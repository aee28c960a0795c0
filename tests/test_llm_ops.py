"""Behavioral tests for the LLM-pipeline operators: recall of approximate
dedup/ANN paths vs exact baselines, lang-id accuracy on real multilingual
text, multimodal plumbing determinism."""

from pyspark.sql import functions as F

from beam_spark import queries as q
from beam_spark.pcollection import PCollection, Pipeline
from beam_spark.operators.core import Create


def _exact_pairs(spark, sf_dir):
    df = q.queries()["q_dedup_ngram_jaccard_pairs"](spark, sf_dir)
    return {(r["i"], r["j"]) for r in df.collect()}


def test_minhash_lsh_matches_exact_pairs(spark, sf_dir):
    exact = _exact_pairs(spark, sf_dir)
    lsh = {(r["i"], r["j"]) for r in
           q.queries()["q_dedup_minhash_lsh_pairs"](spark, sf_dir).collect()}
    assert lsh == exact  # verification removes FPs; recall ~1 at sim>=0.9


def test_simhash_finds_planted_neardups(spark, sf_dir):
    exact = _exact_pairs(spark, sf_dir)
    sim = {(r["i"], r["j"]) for r in
           q.queries()["q_dedup_simhash_pairs"](spark, sf_dir).collect()}
    if exact:
        recall = len(sim & exact) / len(exact)
        assert recall >= 0.5, (recall, len(sim), len(exact))


def test_lsh_ann_recall_vs_brute(spark, sf_dir):
    brute = {(r["query_id"], r["nbr_id"]) for r in
             q.queries()["q_ann_bruteforce_topk"](spark, sf_dir).collect()}
    lsh = {(r["query_id"], r["nbr_id"]) for r in
           q.queries()["q_ann_lsh_topk"](spark, sf_dir).collect()}
    recall = len(lsh & brute) / len(brute)
    assert recall >= 0.25, recall  # 4-plane multi-probe LSH; uniform-random corpus


def test_langid_on_real_text(spark):
    from beam_spark.operators.text import LanguageId

    samples = [
        ("the cat sat on the mat and it is a good day for the walk", "en"),
        ("der hund ist nicht mit der katze auf dem sofa und das ist gut", "de"),
        ("le chat est dans la maison et les oiseaux sont dans le jardin pour que", "fr"),
        ("el perro es un animal y los gatos son una familia en la casa por la", "es"),
        ("这是一个中文文档的例子 其中包含许多汉字", "zh"),
    ]
    pc = (Pipeline(spark)
          | Create([{"text": t, "lang": l} for t, l in samples])
          | LanguageId())
    got = {r["lang"]: r["lang_pred"] for r in pc.collect()}
    assert got == {l: l for _, l in samples}


def test_quality_score_range(spark, sf_dir):
    from beam_spark.operators.text import QualityScore

    out = (q.table(spark, sf_dir, "documents") | QualityScore())
    rows = out.df.select("quality_score").collect()
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in rows)


def test_multimodal_deterministic_and_shaped(spark, sf_dir):
    df1 = q.queries()["q_multimodal_image_features"](spark, sf_dir)
    rows = df1.collect()
    n_docs = q.table(spark, sf_dir, "documents").df.count()
    assert len(rows) == n_docs
    for r in rows[:10]:
        assert 64 <= r["width"] <= 2047 and 64 <= r["height"] <= 2047
        assert len(r["features"]) == 16
        assert all(0.0 <= f <= 1.0 for f in r["features"])
    # determinism: second run identical
    rows2 = q.queries()["q_multimodal_image_features"](spark, sf_dir).collect()
    assert sorted(map(repr, rows)) == sorted(map(repr, rows2))


def test_video_frame_sampling_shape(spark, sf_dir):
    from beam_spark.operators.multimodal import (SampleVideoFrames,
                                                 make_assets_from_documents)

    assets = make_assets_from_documents(
        q.table(spark, sf_dir, "documents").df.limit(5))
    out = (PCollection(assets) | SampleVideoFrames(every_ms=1000))
    rows = out.df.collect()
    per_asset = {}
    for r in rows:
        per_asset.setdefault(r["asset_id"], []).append(r["frame_idx"])
    for aid, idxs in per_asset.items():
        assert sorted(idxs) == list(range(len(idxs)))  # dense frame indices


def test_ivf_ann_recall_vs_brute(spark, sf_dir):
    from beam_spark.operators.similarity import BruteForceCosineTopK, IvfCosineTopK

    emb = q.table(spark, sf_dir, "embeddings").df.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"))
    emb.persist()
    qs = emb.filter("vec_id < 10")
    brute = {(r["query_id"], r["nbr_id"]) for r in
             (PCollection(emb) | BruteForceCosineTopK(qs, k=5)).df.collect()}
    ivf = {(r["query_id"], r["nbr_id"]) for r in
           (PCollection(emb) | IvfCosineTopK(qs, k=5, n_lists=8, nprobe=4)).df.collect()}
    recall = len(ivf & brute) / len(brute)
    assert recall >= 0.5, recall  # probing half the lists


def test_ivf_deterministic(spark, sf_dir):
    from beam_spark.operators.similarity import IvfCosineTopK

    emb = q.table(spark, sf_dir, "embeddings").df.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"))
    qs = emb.filter("vec_id < 5")
    a = sorted(map(tuple, (PCollection(emb) | IvfCosineTopK(qs, k=3)).df.collect()))
    b = sorted(map(tuple, (PCollection(emb) | IvfCosineTopK(qs, k=3)).df.collect()))
    assert a == b


def test_ks_drift_detects_shift_and_binned_mode(spark):
    """KsDrift: disjoint samples give D=1 / p~0; identical samples give
    D=0 / p=1; the binned scale path lower-bounds the exact D and
    converges to it; the exact-mode cardinality guard fails fast."""
    import pytest as _pytest
    from beam_spark.operators.quality import KsDrift

    lo = spark.range(0, 300).selectExpr("CAST(id AS DOUBLE) AS v")
    hi = spark.range(1000, 1300).selectExpr("CAST(id AS DOUBLE) AS v")
    r = (PCollection(hi) | KsDrift(lo, "v")).df.collect()[0]
    assert r["ks_stat"] == 1.0 and r["p_value"] < 1e-6
    assert (r["n_ref"], r["n_cur"]) == (300, 300)

    same = (PCollection(lo) | KsDrift(lo, "v")).df.collect()[0]
    assert same["ks_stat"] == 0.0 and same["p_value"] == 1.0

    # half-shifted overlap: exact D = 0.5; bins approach it from below
    sh = spark.range(150, 450).selectExpr("CAST(id AS DOUBLE) AS v")
    exact = (PCollection(sh) | KsDrift(lo, "v")).df.collect()[0]
    assert abs(exact["ks_stat"] - 0.5) < 0.01
    binned = (PCollection(sh) | KsDrift(lo, "v", bins=50)).df.collect()[0]
    assert binned["ks_stat"] <= exact["ks_stat"] + 1e-9
    assert exact["ks_stat"] - binned["ks_stat"] < 0.05

    with _pytest.raises(ValueError, match="max_distinct"):
        (PCollection(sh) | KsDrift(lo, "v", max_distinct=10)).df.count()


def test_pq_ann_recall_scores_and_errors(spark, sf_dir):
    """PqCosineTopK: ADC candidates + exact rerank recover most exact
    neighbors; reported scores are EXACT cosines (they must appear in
    the brute-force score map verbatim); dims not divisible by m are
    rejected; reruns are deterministic."""
    import pytest as _pytest
    from beam_spark.operators.similarity import (BruteForceCosineTopK,
                                                 PqCosineTopK)

    emb = q.table(spark, sf_dir, "embeddings").df.select(
        "vec_id", F.expr(
            "transform(embedding, x -> CAST(x AS DOUBLE))"
        ).alias("embedding"))
    emb.persist()
    qs = emb.filter("vec_id < 10")
    brute = (PCollection(emb) | BruteForceCosineTopK(qs, k=5)).df.collect()
    bset = {(r["query_id"], r["nbr_id"]) for r in brute}
    bscore = {(r["query_id"], r["nbr_id"]): r["cosine"] for r in brute}
    pq_rows = (PCollection(emb) | PqCosineTopK(
        qs, k=5, m=4, ks=64, rerank_factor=20)).df.collect()
    pset = {(r["query_id"], r["nbr_id"]) for r in pq_rows}
    assert len(pset & bset) / len(bset) >= 0.6
    for r in pq_rows:           # exact-rerank scores match brute force
        key = (r["query_id"], r["nbr_id"])
        if key in bscore:
            assert abs(r["cosine"] - bscore[key]) < 1e-9
    again = (PCollection(emb) | PqCosineTopK(
        qs, k=5, m=4, ks=64, rerank_factor=20)).df.collect()
    assert sorted(map(tuple, pq_rows)) == sorted(map(tuple, again))
    with _pytest.raises(ValueError, match="not divisible"):
        (PCollection(emb) | PqCosineTopK(qs, k=5, m=7)).df.count()
    emb.unpersist()


def test_streaming_llm_dataprep_composition(spark):
    """The LLM dataprep operators compose UNCHANGED on a stream: quality
    score -> filter -> TTL exact-dedup (dropDuplicatesWithinWatermark on
    content_md5) -> chunk -> RunInference, driven by TestStream micro-
    batches. Near-dup LSH stays batch (pairwise joins need bounded
    input — same restriction Beam has for cross-element joins)."""
    from pyspark.sql import functions as F
    from beam_spark.ml.chunking import ChunkText
    from beam_spark.ml.inference import FakeTextEmbeddingHandler, RunInference
    from beam_spark.operators.core import Filter
    from beam_spark.operators.text import Fingerprint, QualityScore
    from beam_spark.streaming import (Deduplicate, TestStream, WithWatermark,
                                      WriteStreamToMemory)

    long_text = " ".join(f"tok{i}" for i in range(80))
    ts = TestStream(spark, "t timestamp, doc_id long, text string")
    ts.add_elements([
        {"t": "2024-01-01 00:00:01", "doc_id": 1, "text": long_text},
        {"t": "2024-01-01 00:00:02", "doc_id": 2, "text": long_text},   # dup
        {"t": "2024-01-01 00:00:03", "doc_id": 3, "text": "short"},     # low quality
    ])
    ts.add_elements([
        {"t": "2024-01-01 00:00:10", "doc_id": 4,
         "text": " ".join(f"other{i}" for i in range(90))},
        {"t": "2024-01-01 00:00:11", "doc_id": 5, "text": long_text},   # dup again
    ])

    pc = (ts.stream()
          | WithWatermark("t", "1 minute")
          | QualityScore()
          | Filter("n_tokens >= 50")
          | Fingerprint()
          | Deduplicate("content_md5")
          | ChunkText(chunk_tokens=64, overlap_tokens=8)
          | RunInference(FakeTextEmbeddingHandler(dim=16), "chunk_text",
                         output_col="embedding", output_type="array<float>",
                         batch_size=64))
    out = pc | WriteStreamToMemory(output_mode="append")
    rows = out.collect()
    kept_docs = {r["doc_id"] for r in rows}
    # doc 1 survives; 2 and 5 are content-dups; 3 fails quality
    assert kept_docs == {1, 4}, kept_docs
    assert all(len(r["embedding"]) == 16 for r in rows)
    assert any(r["chunk_index"] == 1 for r in rows)  # overlap chunking ran


def test_connected_components_chain_and_clusters(spark):
    """Label propagation: chains (transitivity), separate clusters, and
    min-id canonical labels."""
    from beam_spark.operators.dedupe import ConnectedComponents
    from beam_spark.pcollection import Pipeline
    from beam_spark.operators.core import Create

    edges = [{"i": 1, "j": 2}, {"i": 2, "j": 3}, {"i": 3, "j": 4},  # chain
             {"i": 10, "j": 11},                                     # pair
             {"i": 20, "j": 22}, {"i": 21, "j": 22}]                 # star
    out = (Pipeline(spark) | Create(edges) | ConnectedComponents()).df
    got = {(r["node"], r["comp"]) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20)}


def test_hash_sample_threshold_rounds_not_truncates(spark):
    """keep fraction 0.15: 0.15 * 10000 = 1499.999... in doubles — the
    threshold must ROUND to 1500/10000 (exact-decimal semantics), not
    truncate to 1499, so bucket 1499 is kept."""
    from beam_spark.operators.combiners import HashSample

    df = spark.range(0, 5000).selectExpr("id AS doc_id", "'d0' AS domain")
    kept = (PCollection(df)
            | HashSample("domain", {"d0": 0.15}, id_col="doc_id")).df
    exact = df.filter(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) "
        "AS BIGINT) % 10000 < 1500")
    assert kept.count() == exact.count()
    assert kept.exceptAll(exact).count() == 0


def test_connected_components_large_ids_and_nonconvergence(spark):
    """Node ids near 2^62: the convergence sum must not wrap (decimal
    accumulator), and an under-budgeted chain must WARN (or raise) about
    unconverged labels instead of returning them silently."""
    import warnings

    import pytest

    from beam_spark.operators.dedupe import ConnectedComponents

    base = 1 << 62
    chain = [{"i": base + k, "j": base + k + 1} for k in range(12)]
    pc = Pipeline(spark) | Create(chain)

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # converged run must NOT warn
        out = (pc | ConnectedComponents(max_iterations=25)).df
        rows = out.collect()
    assert len(rows) == 13
    assert {r["comp"] for r in rows} == {base}

    with pytest.warns(RuntimeWarning, match="UNCONVERGED"):
        (pc | ConnectedComponents(max_iterations=2)).df.collect()
    with pytest.raises(RuntimeError, match="UNCONVERGED"):
        (pc | ConnectedComponents(max_iterations=2,
                                  on_nonconverged="raise")).df.collect()


def test_decontaminate_flags_planted_overlap(spark):
    """Documents sharing a 3-gram with the benchmark are flagged with
    the distinct-overlap count; clean docs report zero."""
    from beam_spark.operators.dedupe import Decontaminate

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "beta gamma delta epsilon"),
         (3, "zeta eta theta iota"), (4, "x y")],  # 4: too short for 3-grams
        "doc_id long, text string")
    bench = spark.createDataFrame([("beta gamma delta mu",)], "text string")
    out = {tuple(r) for r in
           (PCollection(docs) | Decontaminate(bench, n=3)).df.collect()}
    assert out == {(1, 1, True), (2, 1, True), (3, 0, False), (4, 0, False)}


def test_line_dedup_first_occurrence_wins(spark):
    """Corpus-wide line dedup: later copies of a line drop, first
    (doc_id, pos) occurrence survives, docs reassemble in order; blank
    lines (below min_len) always pass through."""
    from beam_spark.operators.dedupe import LineDedup

    docs = spark.createDataFrame(
        [(1, "a b\nc d\ne f"), (2, "c d\ng h"), (3, "c d\n\na b\nx y")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["text"], r["n_kept"], r["n_dropped"]) for r in
           (PCollection(docs) | LineDedup()).df.collect()}
    assert out[1] == ("a b\nc d\ne f", 3, 0)
    assert out[2] == ("g h", 1, 1)
    assert out[3] == ("\nx y", 2, 2)  # blank line kept, 'c d'/'a b' drop


def test_repetition_stats_known_answers(spark):
    """Hand-computed Gopher-style repetition fractions."""
    import pytest

    from beam_spark.operators.text import RepetitionStats

    docs = spark.createDataFrame(
        [(1, "a b\na b\nc d"),        # line 'a b' x2 of 3
         (2, "x y x y x y"),          # heavy 2-gram repetition
         (3, "unique words only here")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           (PCollection(docs) | RepetitionStats()).df.collect()}
    r1 = got[1]
    assert r1["n_lines"] == 3
    assert r1["dup_line_frac"] == pytest.approx(2 / 3)
    assert r1["dup_line_char_frac"] == pytest.approx(6 / 9)
    assert r1["top_2gram_frac"] == pytest.approx(2 / 5)
    assert r1["dup_3gram_frac"] == 0.0
    r2 = got[2]
    assert r2["top_2gram_frac"] == pytest.approx(3 / 5)
    assert r2["dup_3gram_frac"] == 1.0
    assert got[3]["dup_line_frac"] == 0.0


def test_repetition_stats_zero_shuffle(spark, sf_dir):
    """All metrics fold inside the row (array_sort + aggregate): the
    plan has no Exchange and no Python stages."""
    from beam_spark.operators.text import RepetitionStats

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = (PCollection(df) | RepetitionStats()).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_stratified_sample_exact_counts(spark):
    """StratifiedSample: exact n per stratum (capped at stratum size),
    per-stratum dict sizes with absent strata dropped, exact
    ceil(fraction * size), deterministic reruns, arg validation."""
    import pytest as _pytest
    from beam_spark.operators.combiners import StratifiedSample

    rows = [(i, "a" if i < 50 else ("b" if i < 80 else "c"))
            for i in range(90)]          # strata: a=50, b=30, c=10
    df = spark.createDataFrame(rows, "id long, grp string")
    got = (PCollection(df)
           | StratifiedSample("grp", "id", n=20)).df
    by = {r[0]: r[1] for r in got.groupBy("grp").count().collect()}
    assert by == {"a": 20, "b": 20, "c": 10}    # c capped at its size

    d = (PCollection(df) | StratifiedSample(
        "grp", "id", n={"a": 5, "b": 2})).df
    by = {r[0]: r[1] for r in d.groupBy("grp").count().collect()}
    assert by == {"a": 5, "b": 2}               # c dropped

    fr = (PCollection(df)
          | StratifiedSample("grp", "id", fraction=0.25)).df
    by = {r[0]: r[1] for r in fr.groupBy("grp").count().collect()}
    assert by == {"a": 13, "b": 8, "c": 3}      # ceil(.25 * size)

    again = (PCollection(df)
             | StratifiedSample("grp", "id", n=20)).df
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, again.collect()))
    with _pytest.raises(ValueError, match="exactly one"):
        StratifiedSample("grp", "id")
    with _pytest.raises(ValueError, match="exactly one"):
        StratifiedSample("grp", "id", n=5, fraction=0.5)


def test_temperature_sample_flattens_toward_targets(spark):
    """alpha=0.5 rebalancing: kept domain shares approach p_i ~ sqrt(n_i)
    and the total approaches target_frac; decisions are deterministic
    (same rows kept on a re-run)."""
    import math

    from beam_spark.operators.combiners import TemperatureSample

    df = spark.range(0, 4000).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 10 < 8 THEN 'big' ELSE 'small' END AS domain")
    op = TemperatureSample("domain", id_col="doc_id", alpha=0.5,
                           target_frac=0.5)
    kept = (PCollection(df) | op).df
    counts = {r["domain"]: r["n"] for r in
              kept.groupBy("domain").agg(
                  F.count("*").alias("n")).collect()}
    n_big, n_small = 3200, 800
    wsum = math.sqrt(n_big) + math.sqrt(n_small)
    exp_big = min(1.0, math.sqrt(n_big) / wsum * 0.5 * 4000 / n_big) * n_big
    exp_small = (min(1.0, math.sqrt(n_small) / wsum * 0.5 * 4000 / n_small)
                 * n_small)
    assert abs(counts["big"] - exp_big) / exp_big < 0.1
    assert abs(counts["small"] - exp_small) / exp_small < 0.1
    # determinism: identical keep set on re-run
    again = (PCollection(df) | op).df
    assert kept.exceptAll(again).count() == 0
    assert again.exceptAll(kept).count() == 0


def test_connected_components_star_log_convergence_and_equivalence(spark):
    """algorithm='star' (large-star/small-star): a 120-node chain
    converges well inside 12 rounds (label propagation needs ~120), and
    labels equal the label-propagation result on a random multi-
    component graph."""
    import random

    from beam_spark.operators.dedupe import ConnectedComponents

    # chain 0-1-2-...-120: log-diameter convergence
    chain = [{"i": k, "j": k + 1} for k in range(120)]
    out = (Pipeline(spark) | Create(chain)
           | ConnectedComponents(algorithm="star", max_iterations=12)).df
    rows = out.collect()
    assert len(rows) == 121
    assert {r["comp"] for r in rows} == {0}

    # random graph, several components: star == label propagation
    rnd = random.Random(7)
    edges = [{"i": rnd.randrange(0, 60) + 1000 * rnd.randrange(0, 4),
              "j": rnd.randrange(0, 60) + 1000 * rnd.randrange(0, 4)}
             for _ in range(150)]
    edges = [e for e in edges if e["i"] != e["j"]]
    star = {(r["node"], r["comp"]) for r in
            (Pipeline(spark) | Create(edges)
             | ConnectedComponents(algorithm="star")).df.collect()}
    label = {(r["node"], r["comp"]) for r in
             (Pipeline(spark) | Create(edges)
              | ConnectedComponents()).df.collect()}
    assert star == label


def test_semdedup_marks_planted_neardups(spark, sf_dir):
    """SemDeDup: every is_dup=1 point really has a same-cluster earlier
    point at cosine >= t (no false positives), the canonical (earliest)
    member of each dup pair is kept, and raising the threshold
    monotonically shrinks the dup set."""
    from beam_spark.operators.similarity import SemDeDup

    emb = q.table(spark, sf_dir, "embeddings").df.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .alias("embedding"))
    lo = (PCollection(emb) | SemDeDup(n_clusters=8, threshold=0.35)).df
    hi = (PCollection(emb) | SemDeDup(n_clusters=8, threshold=0.9)).df
    lo_rows = {r["vec_id"]: (r["cluster_id"], r["is_dup"])
               for r in lo.collect()}
    hi_dups = {r["vec_id"] for r in hi.collect() if r["is_dup"]}
    lo_dups = {v for v, (_, d) in lo_rows.items() if d}
    assert hi_dups <= lo_dups
    # the earliest member of every cluster can never be a dup
    import collections
    first_of_cluster = {}
    for vid in sorted(lo_rows):
        first_of_cluster.setdefault(lo_rows[vid][0], vid)
    assert all(lo_rows[v][1] == 0 for v in first_of_cluster.values())
    # lloyd refinement mode runs and keeps the one-row-per-vector contract
    refined = (PCollection(emb)
               | SemDeDup(n_clusters=8, threshold=0.35, lloyd_iters=3)).df
    assert refined.count() == len(lo_rows)


def test_gopher_filter_rules(spark):
    """Each Gopher rule trips on a crafted document."""
    from beam_spark.operators.text import GopherQualityFilter

    filler = " ".join(["the big dog and the cat of doom went home"] * 6)
    docs = [
        {"doc_id": 1, "text": filler},                        # passes all
        {"doc_id": 2, "text": "too short to have fifty words"},
        {"doc_id": 3, "text": " ".join(["ab"] * 60)},          # mean len < 3
        {"doc_id": 4, "text": " ".join(["the ###"] * 60)},     # symbols
        {"doc_id": 5, "text": "\n".join(["- the bullet point item"] * 40)},
        {"doc_id": 6, "text": "\n".join(["the line trails off..."] * 40)},
        {"doc_id": 7, "text": " ".join(["12345"] * 30 + ["the"] * 30)},
        {"doc_id": 8, "text": " ".join(["zq" * 3] * 60)},      # no stopwords
    ]
    out = (Pipeline(spark) | Create(docs)
           | GopherQualityFilter(min_words=50, min_stopword_hits=2)).df
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert rows[1]["keep"] == 1
    assert rows[2]["keep"] == 0 and rows[2]["n_words"] < 50
    assert rows[3]["keep"] == 0 and rows[3]["mean_word_len"] < 3
    assert rows[4]["keep"] == 0 and rows[4]["symbol_word_ratio"] > 0.1
    assert rows[5]["keep"] == 0 and rows[5]["bullet_line_frac"] > 0.9
    assert rows[6]["keep"] == 0 and rows[6]["ellipsis_line_frac"] > 0.3
    assert rows[7]["keep"] == 0 and rows[7]["alpha_word_frac"] < 0.8
    assert rows[8]["keep"] == 0 and rows[8]["stopword_hits"] == 0


def test_gopher_filter_zero_shuffle(spark, sf_dir):
    """The whole rule set is a map-side projection: no exchange in the
    plan."""
    from beam_spark.operators.text import GopherQualityFilter

    out = (q.table(spark, sf_dir, "documents") | GopherQualityFilter()).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_exact_substr_spans_planted_and_hashed(spark, sf_dir):
    """A planted 10-token span shared by two docs is found with exact
    coverage; a doc shorter than k yields no windows; an in-doc repeat
    also counts; hash_grams=True gives identical results to the
    string-keyed mode on the real corpus."""
    from beam_spark.operators.dedupe import ExactSubstrSpans

    span = " ".join(f"tok{i}" for i in range(10))
    docs = [
        {"doc_id": 1, "text": "alpha beta " + span + " gamma delta"},
        {"doc_id": 2, "text": "x1 x2 x3 " + span + " y1 y2 y3 y4"},
        {"doc_id": 3, "text": "nothing shared here at all friends"},
        {"doc_id": 4, "text": "tiny doc"},
        {"doc_id": 5, "text": ("r1 r2 r3 r4 r5 " * 2) + "tail1 tail2"},
    ]
    out = (Pipeline(spark) | Create(docs) | ExactSubstrSpans(k=5)).df
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    # docs 1/2 share a 10-token run -> 6 dup windows each, coverage 10
    assert rows[1]["dup_windows"] == 6 and rows[1]["dup_token_cov"] == 10
    assert rows[2]["dup_windows"] == 6 and rows[2]["dup_token_cov"] == 10
    assert rows[3]["dup_windows"] == 0 and rows[3]["dup_frac"] == 0.0
    assert rows[4]["dup_windows"] == 0 and rows[4]["n_tokens"] == 2
    # doc 5: "r1..r5 r1..r5" repeats the 5-gram r1..r5 at pos 1 and 6
    assert rows[5]["dup_windows"] >= 2 and rows[5]["dup_token_cov"] >= 10

    hashed = (q.table(spark, sf_dir, "documents")
              | ExactSubstrSpans(k=8, hash_grams=True)).df
    plain = (q.table(spark, sf_dir, "documents")
             | ExactSubstrSpans(k=8, hash_grams=False)).df
    assert hashed.exceptAll(plain).count() == 0
    assert plain.exceptAll(hashed).count() == 0


def test_fuzzy_dedup_keeplist_end_to_end(spark):
    """Near-identical docs collapse to one survivor (the min id);
    distinct docs all survive; filter('keep = 1') is the deduped
    corpus."""
    from beam_spark.operators.dedupe import FuzzyDedupKeep

    base = " ".join(f"w{i}" for i in range(40))
    docs = [
        {"doc_id": 10, "text": base},
        {"doc_id": 11, "text": base + " extra"},          # near-dup of 10
        {"doc_id": 12, "text": " ".join(
            ["q3" if t == "w3" else t
             for t in base.split()])},                     # near-dup of 10
        {"doc_id": 20, "text": " ".join(f"z{i}" for i in range(40))},
    ]
    out = (Pipeline(spark) | Create(docs) | FuzzyDedupKeep()).df
    rows = {r["doc_id"]: (r["comp"], r["keep"]) for r in out.collect()}
    assert rows[10] == (10, 1)
    assert rows[11] == (10, 0) and rows[12] == (10, 0)
    assert rows[20] == (20, 1)


def test_bigram_perplexity_ranks_fluency(spark):
    """Docs made of corpus-frequent bigrams score lower perplexity than
    a doc of bigrams seen nowhere else; sub-2-token docs score NULL."""
    from beam_spark.operators.text import NgramPerplexity

    common = "the cat sat on the mat"
    docs = ([{"doc_id": i, "text": common} for i in range(10)]
            + [{"doc_id": 90, "text": "zyx wvu tsr qpo nml kji"},
               {"doc_id": 91, "text": "solo"}])
    out = (Pipeline(spark) | Create(docs) | NgramPerplexity()).df
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert rows[0]["ppl"] < rows[90]["ppl"]
    assert rows[91]["nll"] is None and rows[91]["n_bigrams"] == 0
    assert rows[0]["n_bigrams"] == 5


def test_normalize_text_rules(spark):
    from beam_spark.operators.text import NormalizeText

    docs = [{"doc_id": 1,
             "text": "  Hello,\tWORLD!!\x07  zero​width   gap "}]
    out = (Pipeline(spark) | Create(docs)
           | NormalizeText(strip_punct=True)).df
    assert out.collect()[0]["norm_text"] == "hello world zerowidth gap"
    keep_punct = (Pipeline(spark) | Create(docs) | NormalizeText()).df
    assert keep_punct.collect()[0]["norm_text"] == \
        "hello, world!! zerowidth gap"


def test_split_by_hash_stability_and_validation(spark, sf_dir):
    """Labels are a pure function of the id: the split of a SUBSET of
    the corpus equals its split within the full corpus (no migration);
    fractions summing past 1 raise; a sub-1 sum leaves NULL holdout."""
    import pytest as _pytest
    from beam_spark.operators.combiners import SplitByHash

    docs = q.table(spark, sf_dir, "documents").df.select("doc_id")
    full = {r["doc_id"]: r["split"] for r in
            (PCollection(docs)
             | SplitByHash({"train": 0.8, "val": 0.2}, "doc_id")
             ).df.collect()}
    sub = {r["doc_id"]: r["split"] for r in
           (PCollection(docs.filter("doc_id % 7 = 0"))
            | SplitByHash({"train": 0.8, "val": 0.2}, "doc_id")
            ).df.collect()}
    assert all(full[k] == v for k, v in sub.items())
    with _pytest.raises(ValueError, match="sum past"):
        SplitByHash({"a": 0.9, "b": 0.2}, "doc_id")
    holdout = (PCollection(docs)
               | SplitByHash({"train": 0.5}, "doc_id")).df
    labels = {r["split"] for r in holdout.collect()}
    assert labels == {"train", None}


def test_dedup_against_corpus_incremental(spark):
    """Batch docs flag against the corpus and earlier batch only: a
    batch doc near-dup of a corpus doc names it; two near-identical
    batch docs keep the earlier one clean; corpus never self-joins."""
    from beam_spark.operators.dedupe import DedupAgainstCorpus

    base = " ".join(f"c{i}" for i in range(40))
    other = " ".join(f"x{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [(1, base), (2, " ".join(f"z{i}" for i in range(40)))],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(101, base + " tail"),      # near-dup of corpus 1
         (102, other),               # clean
         (103, other + " tail")],    # near-dup of earlier batch 102
        "doc_id long, text string")
    out = (PCollection(batch) | DedupAgainstCorpus(corpus)).df
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert rows[101]["dup_of_corpus"] == 1 and rows[101]["is_dup"] == 1
    assert rows[102]["is_dup"] == 0
    assert rows[103]["dup_of_batch"] == 102 and rows[103]["is_dup"] == 1


def test_bm25_ranks_rare_term_doc_first(spark):
    """A query with a rare term ranks the only doc containing it first;
    a stopword-ish query term spread over all docs adds little; ties
    rank deterministically by doc_id."""
    from beam_spark.operators.retrieval import Bm25TopK

    docs = spark.createDataFrame(
        [(1, "common words fill this document with common words"),
         (2, "common words plus the rare zyzzyva appears here"),
         (3, "common words again nothing special here at all")],
        "doc_id long, text string")
    queries = spark.createDataFrame(
        [(100, "zyzzyva common")], "query_id long, text string")
    out = (PCollection(docs) | Bm25TopK(queries, k=3)).df
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows[0]["doc_id"] == 2
    assert rows[0]["score"] > rows[1]["score"]
    # determinism across runs
    again = sorted((PCollection(docs) | Bm25TopK(queries, k=3)).df.collect(),
                   key=lambda r: r["rank"])
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_bm25f_field_weighting(spark):
    """BM25F: with a heavily weighted title field, a doc matching the
    query term in its TITLE outranks a doc matching only in its body;
    saturation over the COMBINED weighted tf means a term in both
    fields scores less than the per-field-BM25 sum would give."""
    from beam_spark.operators.retrieval import Bm25fTopK

    docs = spark.createDataFrame(
        [(1, "zyzzyva report", "common words fill this body entirely"),
         (2, "plain heading here", "body mentions zyzzyva once only"),
         (3, "another heading", "nothing relevant in this body")],
        "doc_id long, title string, body string")
    queries = spark.createDataFrame(
        [(100, "zyzzyva")], "query_id long, text string")
    out = (PCollection(docs) | Bm25fTopK(
        queries, {"title": (5.0, 0.5), "body": (1.0, 0.75)}, k=3)).df
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["doc_id"] for r in rows] == [1, 2]  # title hit wins
    assert rows[0]["score"] > rows[1]["score"]
    # empty fields dict rejected
    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        Bm25fTopK(queries, {})


def test_bm25f_and_phrase_modes(spark):
    """Bm25fTopK mode='and' keeps only docs containing EVERY query
    term (in any field); mode='phrase' further requires the query to
    occur contiguously in at least one field, each field tokenized by
    its own analyzer (the title here needs the alnum analyzer to see
    its comma-joined phrase); invalid mode rejected."""
    import pytest as _pytest

    from beam_spark.operators.retrieval import Bm25fTopK

    docs = spark.createDataFrame(
        [(1, "ALPHA,BRAVO,INTRO", "tail words here"),
         (2, "unrelated heading", "has alpha then xx then bravo"),
         (3, "another heading", "only alpha appears here"),
         (4, "misc title", "bravo alpha reversed order words")],
        "doc_id long, title string, body string")
    queries = spark.createDataFrame(
        [(100, "alpha bravo")], "query_id long, text string")
    fields = {"title": (3.0, 0.5, "alnum"), "body": (1.0, 0.75)}

    got_or = {r["doc_id"] for r in (PCollection(docs) | Bm25fTopK(
        queries, fields, k=10)).df.collect()}
    assert got_or == {1, 2, 3, 4}

    got_and = {r["doc_id"] for r in (PCollection(docs) | Bm25fTopK(
        queries, fields, k=10, mode="and")).df.collect()}
    assert got_and == {1, 2, 4}             # doc 3 lacks 'bravo'

    got_ph = {r["doc_id"] for r in (PCollection(docs) | Bm25fTopK(
        queries, fields, k=10, mode="phrase")).df.collect()}
    # doc 1: phrase contiguous in the alnum-tokenized title;
    # doc 2: terms separated in body; doc 4: wrong order
    assert got_ph == {1}

    with _pytest.raises(ValueError, match="bogus"):
        Bm25fTopK(queries, fields, mode="bogus")


def test_rrf_fusion_properties(spark):
    """A doc ranked top in BOTH rankings beats docs top in only one;
    fewer than two rankings is rejected."""
    import pytest as _pytest
    from beam_spark.operators.retrieval import RrfFuse

    r1 = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, doc_id long, rank int")
    r2 = spark.createDataFrame(
        [(1, 10, 2), (1, 13, 1), (1, 12, 3)],
        "query_id long, doc_id long, rank int")
    dummy = PCollection(r1)
    out = (dummy | RrfFuse(r1, r2, k=4)).df
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows[0]["doc_id"] == 10          # 1/61 + 1/62: in both, high
    assert rows[0]["rrf_score"] > rows[1]["rrf_score"]
    with _pytest.raises(ValueError, match="at least two"):
        RrfFuse(r1)


def test_profile_and_constraints_quality_ops(spark):
    """ProfileColumns reports nulls/distincts/mean correctly on a
    crafted frame; CheckConstraints flags the violated check and passes
    the satisfied ones."""
    from beam_spark.operators.quality import (CheckConstraints,
                                              ProfileColumns)
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "b"), (3, 30.0, "b"), (3, 20.0, None)],
        "id long, price double, tag string")
    prof = {r["column"]: r.asDict()
            for r in (PCollection(df) | ProfileColumns()).df.collect()}
    assert prof["id"]["n"] == 4 and prof["id"]["n_distinct"] == 3
    assert prof["price"]["n_null"] == 1
    assert prof["price"]["mean"] == 20.0  # (10+30+20)/3
    assert prof["tag"]["mean"] is None
    assert prof["tag"]["min_value"] == "a"

    checks = (PCollection(df) | CheckConstraints({
        "id_unique": "count(DISTINCT id) = count(*)",      # violated
        "price_pos": "min(price) > 0",
        "tag_complete": "count_if(tag IS NULL) = 0",       # violated
    })).df
    got = {r["check"]: r["passed"] for r in checks.collect()}
    assert got == {"id_unique": 0, "price_pos": 1, "tag_complete": 0}
    with _pytest.raises(ValueError, match="at least one"):
        CheckConstraints({})


def test_distribution_drift_psi(spark):
    """Identical distributions score ~0 PSI; a shifted distribution
    crosses the drift threshold; reference-range clamping keeps
    out-of-range mass visible in the edge bin."""
    from beam_spark.operators.quality import DistributionDrift

    ref = spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
    same = spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
    shifted = spark.range(1000).selectExpr(
        "CAST(id % 100 + 500 AS DOUBLE) AS v")  # fully out of ref range
    stable = (PCollection(same) | DistributionDrift(ref, "v")).df.collect()[0]
    assert stable["psi"] < 0.01 and stable["drifted"] == 0
    drift = (PCollection(shifted)
             | DistributionDrift(ref, "v")).df.collect()[0]
    assert drift["psi"] > 0.25 and drift["drifted"] == 1
    assert drift["n_ref"] == 1000 and drift["n_cur"] == 1000


def test_distribution_drift_categorical(spark):
    """String columns take the categorical path: same category mix
    scores ~0; novel categories land in OTHER and cross the
    threshold."""
    from beam_spark.operators.quality import DistributionDrift

    ref = spark.range(900).selectExpr(
        "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' "
        "ELSE 'c' END AS cat")
    same = spark.range(300).selectExpr(
        "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' "
        "ELSE 'c' END AS cat")
    novel = spark.range(300).selectExpr("'zzz' AS cat")
    stable = (PCollection(same)
              | DistributionDrift(ref, "cat")).df.collect()[0]
    assert stable["psi"] < 0.01 and stable["drifted"] == 0
    drift = (PCollection(novel)
             | DistributionDrift(ref, "cat")).df.collect()[0]
    assert drift["drifted"] == 1 and drift["psi"] > 1


def test_phrase_match_containment(spark):
    """Contiguity matters: scrambled tokens don't match; counts are
    non-overlapping occurrences; tokenization is case/whitespace
    insensitive."""
    from beam_spark.operators.retrieval import PhraseMatch

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),
         (2, "brown quick the fox"),              # scrambled: no match
         (3, "x the quick brown y THE  Quick brown z"),  # two occurrences
         (4, "nothing here")],
        "doc_id long, text string")
    qs = spark.createDataFrame([(7, "The Quick  Brown")],
                               "query_id long, phrase string")
    out = (PCollection(docs) | PhraseMatch(qs)).df
    got = {r["doc_id"]: r["n_occurrences"] for r in out.collect()}
    assert got == {1: 1, 3: 2}


def test_schema_diff(spark):
    from beam_spark.operators.quality import SchemaDiff

    ref = spark.createDataFrame([(1, "x", 1.0)], "a long, b string, c double")
    cur = spark.createDataFrame([(1, 2, True)], "a long, b int, d boolean")
    out = (PCollection(cur) | SchemaDiff(ref)).df
    got = {(r["column"], r["status"]) for r in out.collect()}
    assert got == {("b", "TYPE_CHANGED"), ("c", "REMOVED"), ("d", "ADDED")}
    same = (PCollection(ref) | SchemaDiff(ref)).df
    assert same.count() == 0


def test_outliers_and_curriculum(spark):
    """FlagOutliers flags exactly the Tukey-fence violators; NULLs are
    never outliers; CurriculumBuckets tiers by score with deterministic
    ties."""
    from beam_spark.operators.quality import (CurriculumBuckets,
                                              FlagOutliers)

    vals = list(range(1, 13)) + [1000]   # 1000 is the outlier
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)] + [(99, None)],
        "id long, v double")
    out = (PCollection(df) | FlagOutliers("v")).df
    rows = {r["id"]: r["v_outlier"] for r in out.collect()}
    assert rows[12] == 1                       # the 1000
    assert sum(rows.values()) == 1 and rows[99] == 0
    cur = (PCollection(df.where("v IS NOT NULL"))
           | CurriculumBuckets("v", id_col="id", n_buckets=4)).df
    by_bucket = {}
    for r in cur.collect():
        by_bucket.setdefault(r["bucket"], []).append(r["v"])
    assert max(by_bucket[1]) == 1000.0         # best scores first
    assert min(min(v) for v in [by_bucket[4]]) == 1.0


def test_curriculum_modes_null_and_exact(spark):
    """Quantile-mode contract: NULL scores land in the LAST bucket,
    ties never split across a boundary; exact=True reproduces ntile
    equal-size tiers; approx boundaries agree with exact on
    well-separated scores."""
    from beam_spark.operators.quality import CurriculumBuckets
    from beam_spark.pcollection import PCollection

    rows = [(i, float(v)) for i, v in enumerate([5, 5, 5, 5, 1, 2, 3, 9])]
    df = spark.createDataFrame(rows + [(99, None)], "id long, v double")
    out = (PCollection(df)
           | CurriculumBuckets("v", id_col="id", n_buckets=4)).df
    got = {r["id"]: r["bucket"] for r in out.collect()}
    assert got[99] == 4                      # NULL -> last bucket
    assert len({got[i] for i in range(4)}) == 1   # the tied 5s agree

    exact = (PCollection(df.where("v IS NOT NULL"))
             | CurriculumBuckets("v", id_col="id", n_buckets=4,
                                 exact=True)).df
    from collections import Counter
    sizes = Counter(r["bucket"] for r in exact.collect())
    assert sorted(sizes.values()) == [2, 2, 2, 2]  # ntile exact tiers

    ap = (PCollection(df)
          | CurriculumBuckets("v", id_col="id", n_buckets=4,
                              boundary_accuracy=10000)).df
    assert {r["id"]: r["bucket"] for r in ap.collect()}[99] == 4


def test_semdedup_hot_cluster_guard_and_sqrt_default(spark):
    """A skewed embedding set (one dominant direction) trips the
    hot-cluster fail-fast with an actionable message; n_clusters=None
    sizes K ~= sqrt(N) from a count."""
    import math

    import pytest

    from beam_spark.operators.similarity import SemDeDup
    from beam_spark.pcollection import PCollection

    # 300 vectors all pointing ~the same way -> one hot cluster
    rows = [(i, [1.0, 0.001 * (i % 7), 0.0]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="hot-cluster guard"):
        (PCollection(df)
         | SemDeDup(n_clusters=4, threshold=0.99,
                    max_cluster_rows=100)).df.count()

    # sqrt-N default: spread vectors, K = ceil(sqrt(64)) = 8 clusters max
    import random
    rnd = random.Random(3)
    spread = [(i, [rnd.gauss(0, 1) for _ in range(3)]) for i in range(64)]
    df2 = spark.createDataFrame(
        spread, "vec_id long, embedding array<double>")
    out = (PCollection(df2) | SemDeDup(threshold=0.999)).df
    n_clusters = out.select("cluster_id").distinct().count()
    assert n_clusters <= 8
    assert out.count() == 64


def test_dedup_index_roundtrip_release_and_id_rename(spark, tmp_path):
    """save_index/from_index: saved-artifact dedup equals inline mode;
    a differing batch id column is renamed from the saved meta;
    materialize=True leaves no persisted frames behind."""
    from beam_spark.operators.dedupe import DedupAgainstCorpus
    from beam_spark.pcollection import PCollection

    texts = ["the quick brown fox jumps over the lazy dog tonight",
             "pack my box with five dozen liquor jugs right now ok",
             "sphinx of black quartz judge my vow said the wizard"]
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, texts[0]),                       # dup of corpus 0
         (101, "completely different content about spark engines"),
         (102, texts[0])],                      # dup of corpus 0 AND 100
        "item_id long, text string")

    idx = str(tmp_path / "index")
    DedupAgainstCorpus.save_index(corpus, idx)

    t = DedupAgainstCorpus.from_index(idx, id_col="item_id",
                                      materialize=True)
    out = (PCollection(batch) | t).df
    rows = {r["item_id"]: r for r in out.collect()}
    assert rows[100]["dup_of_corpus"] == 0 and rows[100]["is_dup"] == 1
    assert rows[101]["is_dup"] == 0
    assert rows[102]["dup_of_corpus"] == 0
    assert rows[102]["dup_of_batch"] == 100
    assert t._persisted == []                   # released

    inline = (PCollection(batch)
              | DedupAgainstCorpus(
                  corpus.withColumnRenamed("doc_id", "item_id"),
                  id_col="item_id")).df
    assert sorted(map(tuple, inline.collect())) == \
        sorted(map(tuple, out.collect()))

    import pytest
    with pytest.raises(ValueError, match="exactly one"):
        DedupAgainstCorpus()
    with pytest.raises(ValueError, match="exactly one"):
        DedupAgainstCorpus(corpus, index_path=idx)


def test_phrase_positional_agrees_with_scan_and_bm25_modes(spark):
    """PositionalPhraseMatch presence set == PhraseMatch presence set
    (the zero-shuffle scan); overlapping occurrences only differ in the
    count, by design. BM25 'and' keeps only all-term docs; 'phrase'
    further requires contiguity."""
    from beam_spark.operators.retrieval import (Bm25TopK, PhraseMatch,
                                                PositionalPhraseMatch)
    from beam_spark.pcollection import PCollection

    docs = spark.createDataFrame([
        (0, "red fox red fox red"),          # overlapping 'red fox red'
        (1, "the quick red fox jumps"),
        (2, "fox red the quick brown"),      # terms present, not phrase
        (3, "nothing relevant here at all"),
    ], "doc_id long, text string")
    qs = spark.createDataFrame(
        [(0, "red fox"), (1, "red fox red")],
        "query_id long, phrase string")

    scan = (PCollection(docs) | PhraseMatch(qs)).df
    pos = (PCollection(docs) | PositionalPhraseMatch(qs)).df
    scan_set = {(r["query_id"], r["doc_id"]) for r in scan.collect()}
    pos_rows = {(r["query_id"], r["doc_id"]): r["n_occurrences"]
                for r in pos.collect()}
    assert set(pos_rows) == scan_set
    assert pos_rows[(1, 0)] == 2      # overlapping starts both counted

    bq = qs.withColumnRenamed("phrase", "text")
    both = (PCollection(docs) | Bm25TopK(bq, k=10, mode="and")).df
    and_docs = {(r["query_id"], r["doc_id"]) for r in both.collect()}
    # doc 2 has 'red' and 'fox' -> in AND result for query 0
    assert (0, 2) in and_docs
    ph = (PCollection(docs) | Bm25TopK(bq, k=10, mode="phrase")).df
    ph_docs = {(r["query_id"], r["doc_id"]) for r in ph.collect()}
    assert (0, 2) not in ph_docs      # not contiguous
    assert ph_docs <= and_docs        # phrase is a refinement of AND
    assert (0, 0) in ph_docs and (0, 1) in ph_docs


def test_phrase_rarest_anchor_equals_all_terms(spark):
    """anchor='rarest' must produce IDENTICAL results to the all-terms
    plan, including overlapping counts, repeated-term phrases and a
    phrase term absent from the corpus (zero candidates)."""
    from beam_spark.operators.retrieval import PositionalPhraseMatch
    from beam_spark.pcollection import PCollection

    docs = spark.createDataFrame([
        (0, "the the fox the the fox the"),
        (1, "rare fox stop the stop the fox"),
        (2, "the stop the stop the"),
    ], "doc_id long, text string")
    qs = spark.createDataFrame([
        (0, "the the"),                 # repeated term, overlapping
        (1, "stop the"),                # common terms
        (2, "fox missingword"),         # term absent from corpus
        (3, "rare fox"),                # rare anchor
    ], "query_id long, phrase string")

    a = (PCollection(docs) | PositionalPhraseMatch(qs)).df
    r = (PCollection(docs)
         | PositionalPhraseMatch(qs, anchor="rarest")).df
    ra = sorted(map(tuple, a.collect()))
    rr = sorted(map(tuple, r.collect()))
    assert ra == rr
    got = {(q_, d): n for q_, d, n in ra}
    assert got[(0, 0)] == 2            # 'the the' at starts 0 and 3
    assert (2, 0) not in got and (2, 1) not in got
    assert got[(3, 1)] == 1


def test_dedup_index_append_workflow(spark, tmp_path):
    """The nightly-ingest loop: dedup batch1 vs index -> append its
    survivors -> batch2's dup OF BATCH1 is now caught via the index
    (dup_of_corpus), without ever re-shingling the original corpus."""
    from beam_spark.operators.dedupe import DedupAgainstCorpus
    from beam_spark.pcollection import PCollection

    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string")
    idx = str(tmp_path / "idx")
    DedupAgainstCorpus.save_index(corpus, idx)

    b1 = spark.createDataFrame(
        [(10, "one two three four five six seven eight nine ten")],
        "doc_id long, text string")
    out1 = (PCollection(b1)
            | DedupAgainstCorpus.from_index(idx, materialize=True)).df
    assert out1.collect()[0]["is_dup"] == 0
    DedupAgainstCorpus.append_to_index(b1, idx)

    b2 = spark.createDataFrame(
        [(20, "one two three four five six seven eight nine ten"),
         (21, "totally novel content unlike anything else before")],
        "doc_id long, text string")
    out2 = {r["doc_id"]: r for r in
            (PCollection(b2)
             | DedupAgainstCorpus.from_index(idx, materialize=True))
            .df.collect()}
    assert out2[20]["is_dup"] == 1 and out2[20]["dup_of_corpus"] == 10
    assert out2[21]["is_dup"] == 0


def test_audio_plumbing_windows_and_determinism(spark, sf_dir):
    """Audio decode/feature plumbing: duration follows the decoded
    sample count; windowed features emit ceil(duration/window) rows per
    asset with deterministic per-window vectors distinct across
    windows; whole-clip mode is one row per asset."""
    from pyspark.sql import functions as F

    from beam_spark.operators.multimodal import (DecodeAudioMetadata,
                                                 ExtractAudioFeatures,
                                                 make_assets_from_documents)
    from beam_spark.pcollection import PCollection

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .withColumn("n_chars", F.length("text")).limit(25))
    assets = make_assets_from_documents(docs)
    dec = (PCollection(assets) | DecodeAudioMetadata()).df
    rows = dec.select("asset_id", "sample_rate", "n_channels",
                      "duration_ms").collect()
    assert all(r["sample_rate"] in (8000, 16000, 22050, 44100, 48000)
               for r in rows)
    assert all(r["n_channels"] in (1, 2) for r in rows)
    assert all(1000 <= r["duration_ms"] <= 31000 for r in rows)

    win = (PCollection(dec) | ExtractAudioFeatures(window_ms=1000,
                                                   dim=8)).df
    per_asset = {r["asset_id"]: r["cnt"] for r in
                 win.groupBy("asset_id").agg(
                     F.count("*").alias("cnt")).collect()}
    for r in rows:
        want = max(1, r["duration_ms"] // 1000)
        assert per_asset[r["asset_id"]] == want, r

    two = {(r["asset_id"], r["window_idx"]): tuple(r["features"])
           for r in win.filter("window_idx < 2").collect()}
    a0 = rows[0]["asset_id"]
    if (a0, 1) in two:
        assert two[(a0, 0)] != two[(a0, 1)]   # window salt matters

    clip = (PCollection(dec)
            | ExtractAudioFeatures(window_ms=None, dim=8)).df
    assert clip.count() == 25
    # determinism: rerun equals
    clip2 = (PCollection(dec)
             | ExtractAudioFeatures(window_ms=None, dim=8)).df
    assert sorted(map(repr, clip.collect())) == \
        sorted(map(repr, clip2.collect()))


def test_ivf_hot_list_guard(spark):
    """A degenerate embedding set (one dominant direction) trips IVF's
    opt-in hot-list fail-fast; without the param the query still runs."""
    import pytest

    from beam_spark.operators.similarity import IvfCosineTopK
    from beam_spark.pcollection import PCollection

    rows = [(i, [1.0, 0.0001 * (i % 3), 0.0]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter("vec_id < 2")
    with pytest.raises(ValueError, match="hot-list guard"):
        (PCollection(df) | IvfCosineTopK(qs, k=3, n_lists=4,
                                         max_list_rows=50)).df.count()
    ok = (PCollection(df) | IvfCosineTopK(qs, k=3, n_lists=4)).df
    assert ok.count() > 0


def test_rrf_weighted_fusion(spark):
    """Weighted RRF: a heavier lexical weight flips the fused winner;
    default weights reproduce the unweighted score exactly."""
    from beam_spark.operators.retrieval import RrfFuse
    from beam_spark.pcollection import PCollection

    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id long, doc_id long, rank int")
    vec = spark.createDataFrame(
        [(0, 11, 1), (0, 10, 2)], "query_id long, doc_id long, rank int")
    base = (PCollection(lex) | RrfFuse(lex, vec, k=2)).df.collect()
    # symmetric ranks -> tie broken by doc_id: 10 first
    assert [r["doc_id"] for r in sorted(base, key=lambda r: r["rank"])] \
        == [10, 11]
    w = (PCollection(lex)
         | RrfFuse(lex, vec, k=2, weights=[1.0, 3.0])).df.collect()
    # vector leg weighted 3x: doc 11 (vector rank 1) wins
    assert [r["doc_id"] for r in sorted(w, key=lambda r: r["rank"])] \
        == [11, 10]
    import pytest
    with pytest.raises(ValueError, match="one weight per ranking"):
        RrfFuse(lex, vec, weights=[1.0])


def test_pagerank_properties(spark):
    """PageRank: total mass stays 1; a node every other node links to
    dominates; dangling mass redistributes (no leak); a hand-computed
    2-node cycle gives the uniform fixed point; arg validation."""
    import pytest as _pytest
    from beam_spark.operators.graph import PageRank

    # star: 1,2,3 all link to 0; 0 links nowhere (dangling)
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0)], "src long, dst long")
    pr = {r["node"]: r["pr"] for r in
          (PCollection(edges) | PageRank(iterations=20)).df.collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9       # mass conserved
    assert pr[0] > pr[1] and pr[1] == pr[2] == pr[3]

    # 2-cycle: symmetric -> uniform 0.5 / 0.5 at any iteration count
    cyc = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    pr2 = {r["node"]: r["pr"] for r in
           (PCollection(cyc) | PageRank(iterations=7)).df.collect()}
    assert abs(pr2[0] - 0.5) < 1e-12 and abs(pr2[1] - 0.5) < 1e-12

    with _pytest.raises(ValueError, match="damping"):
        PageRank(damping=1.5)
    with _pytest.raises(ValueError, match="iterations"):
        PageRank(iterations=0)


def test_pagerank_tol_early_exit(spark):
    """tol= turns iterations into a cap: the loop exits once the
    L-inf rank delta drops under tol, lands within tol of the
    fixed-50-round answer, and records rounds_run_; invalid tol
    raises; tol=None never early-exits."""
    import pytest as _pytest
    from beam_spark.operators.graph import PageRank
    from beam_spark.pcollection import PCollection

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 1), (3, 0)],
        "src long, dst long")
    ref = {r["node"]: r["pr"] for r in
           (PCollection(edges) | PageRank(iterations=50)).df.collect()}

    op = PageRank(iterations=50, tol=1e-7)
    got = {r["node"]: r["pr"] for r in
           (PCollection(edges) | op).df.collect()}
    assert op.rounds_run_ < 50          # genuinely exited early
    for n, v in ref.items():
        assert abs(got[n] - v) < 1e-6, n
    assert abs(sum(got.values()) - 1.0) < 1e-9

    fixed = PageRank(iterations=5)
    (PCollection(edges) | fixed).df.collect()
    assert fixed.rounds_run_ == 5       # tol=None: cap == rounds

    with _pytest.raises(ValueError, match="tol"):
        PageRank(tol=0.0)


def test_edit_distance_join_planted_and_short_strings(spark):
    """EditDistanceJoin finds planted typo pairs exactly (count-filter
    pruning loses nothing), handles strings too short to carry
    q-grams via the short path, and respects the k bound."""
    import pytest as _pytest
    from beam_spark.operators.dedupe import EditDistanceJoin

    rows = [
        (0, "sparkle"), (1, "sparkel"),      # transposition: dist 2
        (2, "sparkles"),                      # insert: dist 1 vs 0
        (3, "completely different phrase"),
        (4, "a"), (5, "b"), (6, "ab"),        # shorter than q
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["i"], r["j"]): r["dist"] for r in
           (PCollection(df) | EditDistanceJoin(k=2)).df.collect()}
    assert out[(0, 1)] == 2
    assert out[(0, 2)] == 1
    assert out[(1, 2)] == 2                   # sparkel -> sparkles
    assert (4, 5) in out and out[(4, 5)] == 1  # short path
    assert out[(4, 6)] == 1 and out[(5, 6)] == 1
    assert all(d <= 2 for d in out.values())
    assert not any(3 in p for p in out)       # far string pairs nothing
    # ED-Join prefix filter (default) and the full count-filter path
    # must produce the identical pair set — both are lossless
    full = {(r["i"], r["j"]): r["dist"] for r in
            (PCollection(df) | EditDistanceJoin(
                k=2, prefix_filter=False)).df.collect()}
    assert out == full
    with _pytest.raises(ValueError, match="k >= 1"):
        EditDistanceJoin(k=0)


def test_pagerank_weighted_and_personalized(spark):
    """Weighted edges shift rank toward the heavy neighbor;
    personalization concentrates restart AND dangling mass on the
    seed set (zero-seed nodes still earn rank only via links)."""
    from beam_spark.operators.graph import PageRank

    # 0 links to 1 (weight 9) and 2 (weight 1)
    we = spark.createDataFrame(
        [(0, 1, 9.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 1.0)],
        "src long, dst long, w double")
    pr = {r["node"]: r["pr"] for r in
          (PCollection(we) | PageRank(iterations=25, weight="w"))
          .df.collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    assert pr[1] > pr[2] * 3          # 9x edge weight dominates

    # personalization: teleport only to node 0
    seeds = spark.createDataFrame([(0, 1.0)], "node long, p double")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long")
    ppr = {r["node"]: r["pr"] for r in
           (PCollection(edges) | PageRank(
               iterations=40, personalization=seeds)).df.collect()}
    assert abs(sum(ppr.values()) - 1.0) < 1e-9
    # restart bias: 0 outranks its cycle peers
    assert ppr[0] > ppr[1] > ppr[2] or ppr[0] > max(ppr[1], ppr[2])


def test_edit_distance_join_two_frame_lookup(spark):
    """queries= flavor: incoming names match against a reference
    corpus — (query_id, corpus_id, dist) pairs, no i<j constraint,
    same lossless pruning (verified vs brute force in-test)."""
    from beam_spark.operators.dedupe import EditDistanceJoin

    corpus = spark.createDataFrame(
        [(10, "alexander"), (11, "alexandra"), (12, "benjamin"),
         (13, "al")],
        "doc_id long, text string")
    qs = spark.createDataFrame(
        [(0, "alexandre"), (1, "benjamim"), (2, "ax")],
        "doc_id long, text string")
    out = {(r["i"], r["j"]): r["dist"] for r in
           (PCollection(corpus) | EditDistanceJoin(k=2, queries=qs))
           .df.collect()}
    # brute force reference
    import itertools
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]
    want = {(qi, ci): lev(qt, ct)
            for (qi, qt), (ci, ct) in itertools.product(
                [(0, "alexandre"), (1, "benjamim"), (2, "ax")],
                [(10, "alexander"), (11, "alexandra"),
                 (12, "benjamin"), (13, "al")])
            if lev(qt, ct) <= 2}
    assert out == want and (0, 10) in out and (2, 13) in out


def test_weighted_sample_bias_and_exactness(spark):
    """WeightedSample: exact n per stratum, heavy-weight rows win far
    more often than light ones (aggregate bias check over many ids),
    zero/NULL weights excluded, deterministic reruns."""
    import pytest as _pytest
    from beam_spark.operators.combiners import WeightedSample

    # 500 heavy (w=50) + 500 light (w=1) rows in one stratum
    rows = [(i, "s", 50.0 if i < 500 else 1.0) for i in range(1000)]
    rows += [(2000, "s", None), (2001, "s", 0.0)]   # excluded
    df = spark.createDataFrame(rows, "id long, grp string, w double")
    got = (PCollection(df) | WeightedSample(
        100, weight_col="w", id_col="id", stratum_col="grp")).df
    ids = [r["id"] for r in got.collect()]
    assert len(ids) == 100
    heavy = sum(1 for i in ids if i < 500)
    assert heavy > 80                      # ~98 expected at 50:1 odds
    assert 2000 not in ids and 2001 not in ids
    again = (PCollection(df) | WeightedSample(
        100, weight_col="w", id_col="id", stratum_col="grp")).df
    assert sorted(ids) == sorted(r["id"] for r in again.collect())
    # global (unstratified) mode returns exactly n
    g = (PCollection(df) | WeightedSample(
        7, weight_col="w", id_col="id")).df
    assert g.count() == 7
    with _pytest.raises(ValueError, match="n must be"):
        WeightedSample(0, weight_col="w", id_col="id")


def test_url_normalize_rules(spark):
    """UrlNormalize: case folding, default-port stripping (non-default
    kept), slash collapsing + trailing-slash trim, fragment drop,
    tracking-param removal + bytewise param sort, www-stripped host,
    two-level-public-suffix domain heuristic, NULL/invalid passthrough,
    and strip_www=False keeps the www host."""
    from beam_spark.operators.text import UrlNormalize
    from beam_spark.pcollection import PCollection

    rows = [
        (0, "HTTPS://WWW.Example.COM:443/a//b/?utm_source=x&b=2&a=1#frag"),
        (1, "http://news.co.uk:80"),
        (2, "https://sub.shop.com.au/p/?ref=tw&z=9&gclid=abc"),
        (3, "http://Host.io:8080/x/"),
        (4, "not a url"),
        (5, None),
        (6, "https://example.com/?utm_campaign=a"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r["id"]: (r["url_norm"], r["host"], r["domain"]) for r in
           (PCollection(df) | UrlNormalize()).df.collect()}
    assert got[0] == ("https://www.example.com/a/b?a=1&b=2",
                      "example.com", "example.com")
    assert got[1] == ("http://news.co.uk/", "news.co.uk", "news.co.uk")
    assert got[2] == ("https://sub.shop.com.au/p?z=9",
                      "sub.shop.com.au", "shop.com.au")
    assert got[3] == ("http://host.io:8080/x", "host.io", "host.io")
    assert got[4] == (None, None, None)       # invalid -> NULLs
    assert got[5] == (None, None, None)
    assert got[6] == ("https://example.com/", "example.com",
                      "example.com")

    keep = {r["id"]: r["host"] for r in
            (PCollection(df) | UrlNormalize(strip_www=False))
            .df.collect()}
    assert keep[0] == "www.example.com"


def test_sorted_neighborhood_pairs(spark):
    """SortedNeighborhoodPairs equals the textbook row_number
    self-join on adversarial input: duplicate keys (tie-broken by
    id), pathological input partitioning, explicit num_partitions
    exceeding distinct keys (empty range partitions), window
    validation."""
    import pytest as _pytest

    from beam_spark.operators.dedupe import SortedNeighborhoodPairs
    from beam_spark.pcollection import PCollection

    rows = [(i, f"k{i % 7:02d}") for i in range(40)]   # dup keys
    df = spark.createDataFrame(
        rows, "doc_id long, name string").repartition(13)

    def want(w):
        ordered = sorted(rows, key=lambda r: (r[1], r[0]))
        out = set()
        for a in range(len(ordered)):
            for d in range(1, w):
                if a + d < len(ordered):
                    out.add((ordered[a][0], ordered[a + d][0], d))
        return out

    for w, nparts in ((3, None), (5, 11)):
        got = {(r["i"], r["j"], r["d"]) for r in
               (PCollection(df) | SortedNeighborhoodPairs(
                   key_col="name", window=w,
                   num_partitions=nparts)).df.collect()}
        assert got == want(w), (w, nparts)

    with _pytest.raises(ValueError, match="window"):
        SortedNeighborhoodPairs(key_col="name", window=1)


def test_leakage_safe_split(spark):
    """Round-14: every member of a group lands in the SAME split (the
    leakage guarantee id-hash splitting lacks); assignment is
    deterministic; fractions partition ~correctly; NULL groups get
    NULL split; remainder below 1.0 is held out as NULL; fraction
    validation fails fast."""
    import pytest

    from beam_spark.operators.combiners import LeakageSafeSplit
    from beam_spark.pcollection import PCollection

    rows = [(i, f"g{i % 50}") for i in range(500)] + [(999, None)]
    df = spark.createDataFrame(rows, "id long, grp string")
    out = (PCollection(df) | LeakageSafeSplit(
        "grp", {"train": 0.6, "val": 0.2, "test": 0.2})).df.collect()
    by_grp = {}
    for r in out:
        if r.grp is None:
            assert r.split is None
            continue
        by_grp.setdefault(r.grp, set()).add(r.split)
    assert all(len(s) == 1 for s in by_grp.values())   # no straddling
    splits = {next(iter(s)) for s in by_grp.values()}
    assert splits <= {"train", "val", "test"} and "train" in splits
    out2 = (PCollection(df.repartition(5)) | LeakageSafeSplit(
        "grp", {"train": 0.6, "val": 0.2, "test": 0.2})).df.collect()
    assert sorted((r.id, r.split) for r in out2) == \
        sorted((r.id, r.split) for r in out)
    # remainder held out: fractions summing to 0.5 leave NULLs
    held = (PCollection(df.where("grp IS NOT NULL"))
            | LeakageSafeSplit("grp", {"train": 0.5})).df
    n_null = held.where("split IS NULL").count()
    assert 0 < n_null < 500
    with pytest.raises(ValueError, match="sum"):
        LeakageSafeSplit("grp", {"a": 0.8, "b": 0.4})
    with pytest.raises(ValueError, match="fraction"):
        LeakageSafeSplit("grp", {"a": 0.0})
    with pytest.raises(ValueError, match="at least one"):
        LeakageSafeSplit("grp", {})


def test_containment_pairs_asymmetric(spark):
    """Round-14: a short doc quoted whole inside a much longer one —
    containment(short in long) = 1.0 while jaccard stays below any
    useful threshold; the reverse direction scores |short|/|long|;
    unrelated docs emit nothing; threshold validated."""
    import pytest as _pytest

    from beam_spark.operators.dedupe import (ContainmentPairs,
                                             NgramJaccardPairs)
    from beam_spark.pcollection import PCollection

    short = "alpha beta gamma delta epsilon"        # 3 shingles
    filler = " ".join(f"w{i}" for i in range(40))   # 38 shingles
    long_doc = short + " " + filler
    df = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "zeta eta theta iota")],
        "doc_id long, text string")
    got = {(r.i, r.j): r.containment for r in
           (PCollection(df)
            | ContainmentPairs(threshold=0.5)).df.collect()}
    assert got[(1, 2)] == 1.0          # short fully inside long
    assert (2, 1) not in got           # reverse ~ 3/41 < 0.5
    assert not any(3 in k for k in got)
    jac = (PCollection(df)
           | NgramJaccardPairs(threshold=0.5)).df.collect()
    assert jac == []                   # symmetric jaccard misses it
    with _pytest.raises(ValueError, match="threshold"):
        ContainmentPairs(threshold=0.0)


def test_jaccard_prefix_join_equals_quadratic(spark):
    """JaccardPrefixJoin returns the identical (i, j, jaccard) set as
    the quadratic NgramJaccardPairs on planted near-dups (lossless
    pruning), including a pair sitting exactly at the threshold;
    threshold validated."""
    import pytest as _pytest

    from beam_spark.operators.dedupe import (JaccardPrefixJoin,
                                             NgramJaccardPairs)
    from beam_spark.pcollection import PCollection

    base = "alpha bravo charlie delta echo foxtrot golf hotel india"
    rows = [
        (0, base),
        (1, base + " juliet"),                     # near-dup of 0
        (2, "totally different words in this one entirely now yes"),
        (3, base.replace("echo", "zulu")),         # moderate overlap
        (4, "alpha bravo charlie delta echo foxtrot golf hotel kilo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.6, 0.8):
        slow = {(r["i"], r["j"]): round(r["jaccard"], 9) for r in
                (PCollection(df) | NgramJaccardPairs(threshold=t))
                .df.collect()}
        for order in ("lex", "df"):
            fast = {(r["i"], r["j"]): round(r["jaccard"], 9) for r in
                    (PCollection(df) | JaccardPrefixJoin(
                        threshold=t, order=order)).df.collect()}
            assert fast == slow, (t, order)
            assert (0, 1) in fast                  # planted pair found

    with _pytest.raises(ValueError, match="threshold"):
        JaccardPrefixJoin(threshold=0.0)
    with _pytest.raises(ValueError, match="order"):
        JaccardPrefixJoin(order="rarest")


def test_pipeline_scoped_cache_release(spark):
    """Every transform that pins a frame (PTransform.pin) releases it
    on both paths: exiting the `with Pipeline()` block (or
    release_caches()) unpersists everything transforms pinned under
    the pipeline in one shot, and a pipeline-less transform's
    release() unpersists what it pinned. FuzzyDedupKeep releases its
    inner MinHashLSH itself, and CC keeps only its labels checkpoint
    once they are materialized."""
    from beam_spark.operators.core import Partition, Tee
    from beam_spark.operators.dedupe import (
        ContainmentPairs, DedupAgainstCorpus, FuzzyDedupKeep,
        JaccardPrefixJoin, MinHashLSH, NgramJaccardPairs,
        SimHashNearDupPairs)
    from beam_spark.operators.pardo import ParDo
    from beam_spark.operators.similarity import IvfCosineTopK, SemDeDup
    from beam_spark.pcollection import PCollection, Pipeline

    df = spark.createDataFrame(
        [(0, "alpha bravo charlie delta echo"),
         (1, "alpha bravo charlie delta foxtrot")],
        "doc_id long, text string")
    vecs = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(4)],
        "vec_id long, embedding array<double>")
    with Pipeline(spark) as p:
        pc = PCollection(df, pipeline=p)
        (pc | JaccardPrefixJoin(threshold=0.5)).df.collect()
        (pc | MinHashLSH(threshold=0.5)).df.collect()
        cached = list(p._persisted)
        assert cached  # both transforms registered their frames
        assert any(f.storageLevel.useMemory for f in cached)
    # context exit released every registered cache
    assert not p._persisted
    assert all(not f.storageLevel.useMemory for f in cached)

    # pipeline-less PCollections keep the explicit release() contract
    op = JaccardPrefixJoin(threshold=0.5)
    (PCollection(df) | op).df.collect()
    assert op._persisted and op._persisted[0].storageLevel.useMemory
    op.release()
    assert not op._persisted

    def outputs(out):
        if isinstance(out, dict):
            out = list(out.values())
        return out if isinstance(out, (list, tuple)) else [out]

    cases = [
        (lambda: NgramJaccardPairs(threshold=0.5), df),
        (lambda: ContainmentPairs(threshold=0.5), df),
        (lambda: MinHashLSH(threshold=0.5), df),
        (lambda: SimHashNearDupPairs(), df),
        (lambda: DedupAgainstCorpus(df), df),
        (lambda: JaccardPrefixJoin(threshold=0.5, order="df"), df),
        (lambda: SemDeDup(n_clusters=2), vecs),
        (lambda: IvfCosineTopK(vecs, k=1, n_lists=2, nprobe=1,
                               max_list_rows=4), vecs),
        (lambda: Partition("doc_id % 2", 2), df),
        (lambda: Tee(lambda pc: pc.df.count()), df.select("*")),
        (lambda: ParDo(lambda r: [r], "doc_id: long, text: string")
         .with_exception_handling(), df),
    ]
    for make, frame in cases:
        for scoped in (False, True):
            op = make()
            with Pipeline(spark) as p:
                pc = PCollection(frame, pipeline=p if scoped else None)
                for o in outputs(pc | op):
                    o.df.collect()
                pinned = list(op._persisted)
                assert pinned, op
                assert all(f.storageLevel.useMemory for f in pinned), op
                if not scoped:
                    op.release()
                    assert not op._persisted
            assert all(not f.storageLevel.useMemory for f in pinned), op

    jsc = spark.sparkContext._jsc

    def kept_by(frame):
        before = set(jsc.getPersistentRDDs().keySet())
        (PCollection(frame) | FuzzyDedupKeep(threshold=0.5)).df.collect()
        return len(set(jsc.getPersistentRDDs().keySet()) - before)

    # no near-dup pair: CC's labels over the empty graph are only
    # materialized by the caller's collect, so its seed (no partitions,
    # no blocks) cannot be dropped inside CC
    kept = kept_by(df)
    assert kept <= 2, kept              # CC seed + labels, no MinHash
    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    near_dup = spark.createDataFrame(
        [(0, words), (1, words + " kilo"), (2, "zulu yankee xray whiskey")],
        "doc_id long, text string")
    kept = kept_by(near_dup)
    assert kept <= 1, kept              # CC labels; no seed, no MinHash


def test_shortest_paths_semantics(spark):
    """ShortestPaths: hop-count mode (no weight), weighted mode picks
    the cheaper 2-hop route over the expensive direct edge,
    multi-source min, unreachable nodes absent, early exit records
    rounds_run_, validation."""
    import pytest as _pytest

    from beam_spark.operators.graph import ShortestPaths
    from beam_spark.pcollection import PCollection

    # 0 -> 1 (10.0) direct, but 0 -> 2 (1.0) -> 1 (2.0) is cheaper;
    # 3 -> 4 is a separate component; 5 is isolated (never appears)
    edges = spark.createDataFrame(
        [(0, 1, 10.0), (0, 2, 1.0), (2, 1, 2.0), (3, 4, 7.0)],
        "src long, dst long, w double")

    op = ShortestPaths([0], weight="w", iterations=10)
    got = {r["node"]: r["dist"] for r in
           (PCollection(edges) | op).df.collect()}
    assert got == {0: 0.0, 2: 1.0, 1: 3.0}      # cheaper 2-hop wins
    assert op.rounds_run_ < 10                   # early exit fired

    hops = {r["node"]: r["dist"] for r in
            (PCollection(edges) | ShortestPaths([0], iterations=10))
            .df.collect()}
    assert hops == {0: 0.0, 1: 1.0, 2: 1.0}      # hop count: direct

    multi = {r["node"]: r["dist"] for r in
             (PCollection(edges) | ShortestPaths(
                 [0, 3], weight="w", iterations=10)).df.collect()}
    assert multi[3] == 0.0 and multi[4] == 7.0 and multi[1] == 3.0

    # predecessors: the pred chain walks back to the source; ties on
    # distance pick the smallest predecessor
    predrun = (PCollection(edges) | ShortestPaths(
        [0], weight="w", iterations=10, predecessors=True)).df
    pr = {r["node"]: (r["dist"], r["pred"]) for r in predrun.collect()}
    assert pr[0] == (0.0, 0)            # source is its own pred
    assert pr[2] == (1.0, 0)
    assert pr[1] == (3.0, 2)            # via the cheap 2-hop route

    # tie case: two equal-cost paths to 3 -> smallest pred wins
    tie = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0)],
        "src long, dst long, w double")
    tp = {r["node"]: r["pred"] for r in
          (PCollection(tie) | ShortestPaths(
              [0], weight="w", iterations=10, predecessors=True))
          .df.collect()}
    assert tp[3] == 1                   # min pred on the 2.0 tie

    with _pytest.raises(ValueError, match="source"):
        ShortestPaths([])
    with _pytest.raises(ValueError, match="iterations"):
        ShortestPaths([0], iterations=0)


def test_fixed_point_loop_rules(spark):
    """graph._fixed_point on one 5-node chain: a fixed count runs every
    round; a check exits early; a two-round batch shares the round
    budget (ShortestPaths(iterations=3) relaxes three times, not
    four); and superseded rounds are released, lazy or eager —
    PageRank(iterations=10) keeps its four setup frames plus one round
    cached, not 14, and Hits(iterations=10) its two plus one, not 22.
    ConnectedComponents keeps only its result: neither the label
    algorithm's seed nor the star algorithm's edge and node frames.
    The unconverged warn/raise paths are covered by
    test_connected_components_large_ids_and_nonconvergence."""
    from beam_spark.operators.dedupe import ConnectedComponents
    from beam_spark.operators.graph import (Hits, PageRank, ShortestPaths,
                                            _fixed_point)

    chain = spark.createDataFrame([(k, k + 1) for k in range(4)],
                                  "src long, dst long")   # 0 -> ... -> 4
    jsc = spark.sparkContext._jsc

    def cached_by(fn):
        before = set(jsc.getPersistentRDDs().keySet())
        out = fn()
        return out, len(set(jsc.getPersistentRDDs().keySet()) - before)

    # a round adds the next hop to the reached set: the fixed point
    # {0..4} is reached after 4 rounds and detected by the 5th
    def hop(reached):
        nxt = chain.join(reached, chain["src"] == reached["node"])
        return (reached.unionByName(nxt.select(F.col("dst").alias("node")))
                .distinct())

    def grew(new, prev):
        return not new.join(prev, "node", "left_anti").isEmpty()

    start = spark.createDataFrame([(0,)], "node long")
    (out, run, conv), kept = cached_by(
        lambda: _fixed_point(start, hop, 20, grew))
    assert (out.count(), run, conv, kept) == (5, 5, True, 1)

    sp = ShortestPaths([0], iterations=3)
    dist = {r["node"]: r["dist"] for r in
            (PCollection(chain) | sp).df.collect()}
    assert sp.rounds_run_ == 3
    assert dist == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}

    pr = PageRank(iterations=10)
    _, kept = cached_by(lambda: (PCollection(chain) | pr).df.collect())
    assert pr.rounds_run_ == 10
    assert kept <= 4 + 1, kept          # edges/nodes/deg/rv + one round

    _, kept = cached_by(
        lambda: (PCollection(chain) | Hits(iterations=10)).df.collect())
    assert kept <= 2 + 1, kept          # edges/nodes + one round

    pairs = chain.select(F.col("src").alias("i"), F.col("dst").alias("j"))
    for algorithm in ("label", "star"):
        comps, kept = cached_by(lambda: (
            PCollection(pairs)
            | ConnectedComponents(algorithm=algorithm)).df.collect())
        assert {(r["node"], r["comp"]) for r in comps} == \
            {(k, 0) for k in range(5)}, algorithm
        assert kept <= 1, (algorithm, kept)   # the result only


def test_record_linkage_score(spark):
    """RecordLinkageScore: agreement adds log2(m/u), disagreement adds
    log2((1-m)/(1-u)), NULL on either side contributes nothing;
    two-corpus mode resolves j in the right frame; parameter
    validation enforces 0 < u < m < 1."""
    import math

    import pytest as _pytest

    from beam_spark.operators.dedupe import RecordLinkageScore
    from beam_spark.pcollection import PCollection

    recs = spark.createDataFrame(
        [(1, "smith", "nyc"), (2, "smith", "la"),
         (3, "jones", None), (4, "smith", "nyc")],
        "doc_id long, name string, city string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "i long, j long")
    fields = {"name": (0.9, 0.1), "city": (0.8, 0.2)}
    out = {(r["i"], r["j"]): (r["weight"], r["n_agree"]) for r in
           (PCollection(pairs) | RecordLinkageScore(
               recs, fields)).df.collect()}
    wn_a, wn_d = math.log2(9.0), math.log2(0.1 / 0.9)
    wc_a, wc_d = math.log2(4.0), math.log2(0.2 / 0.8)
    assert out[(1, 2)] == (round(wn_a + wc_d, 6), 1)
    assert out[(1, 3)] == (round(wn_d, 6), 0)     # NULL city: no term
    assert out[(1, 4)] == (round(wn_a + wc_a, 6), 2)

    # two-corpus linkage: j ids live in the right frame
    right = spark.createDataFrame(
        [(2, "smith", "nyc")], "doc_id long, name string, city string")
    two = {(r["i"], r["j"]) : r["n_agree"] for r in
           (PCollection(spark.createDataFrame([(1, 2)], "i long, j long"))
            | RecordLinkageScore(recs, fields, right=right))
           .df.collect()}
    assert two[(1, 2)] == 2

    with _pytest.raises(ValueError, match="0 < u < m < 1"):
        RecordLinkageScore(recs, {"name": (0.1, 0.9)})
    with _pytest.raises(ValueError, match="non-empty"):
        RecordLinkageScore(recs, {})


def test_readability_score_known_values(spark):
    """ReadabilityScore on a hand-computable sentence: word, sentence
    and vowel-group syllable counts match manual Flesch arithmetic;
    punctuation-free text falls back to one sentence."""
    from beam_spark.operators.text import ReadabilityScore
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran away!"),
         (2, "no punctuation here at all")],
        "id long, text string")
    out = {r["id"]: r for r in
           (PCollection(df) | ReadabilityScore()).df.collect()}
    r1 = out[1]
    assert r1["n_words"] == 7 and r1["n_sentences"] == 2
    # syllables: the(1) cat(1) sat.(1) the(1) dog(1) ran(1) away!(2)
    assert r1["n_syllables"] == 8
    wps, spw = 7 / 2, 8 / 7
    assert abs(r1["flesch"] - round(206.835 - 1.015 * wps
                                    - 84.6 * spw, 6)) < 1e-9
    assert abs(r1["fk_grade"] - round(0.39 * wps + 11.8 * spw
                                      - 15.59, 6)) < 1e-9
    r2 = out[2]
    assert r2["n_sentences"] == 1 and r2["n_words"] == 5


def test_repeat_by_weight_multiplicities(spark):
    """RepeatByWeight: integer weights repeat exactly; fractional
    weights add the md5-decided extra copy at ~frac rate in aggregate;
    epoch indexes run 1..k; zero/NULL weights vanish; determinism
    across invocations."""
    from beam_spark.operators.combiners import RepeatByWeight
    from beam_spark.pcollection import PCollection

    rows = [(i, 2.0) for i in range(50)] + \
           [(100 + i, 0.5) for i in range(400)] + \
           [(1000, 0.0), (1001, None)]
    df = spark.createDataFrame(rows, "id long, w double")
    out = (PCollection(df) | RepeatByWeight("w", "id")).df
    got = out.groupBy("id").count().collect()
    by_id = {r["id"]: r["count"] for r in got}
    for i in range(50):
        assert by_id[i] == 2                      # exact integer reps
    n_half = sum(1 for i in range(400) if 100 + i in by_id)
    assert 130 <= n_half <= 270                   # ~200 expected
    assert all(by_id.get(100 + i, 0) <= 1 for i in range(400))
    assert 1000 not in by_id and 1001 not in by_id
    epochs = {(r["id"], r["epoch"]) for r in out.collect()}
    assert (0, 1) in epochs and (0, 2) in epochs and (0, 3) not in epochs

    again = {(r["id"], r["epoch"]) for r in
             (PCollection(df) | RepeatByWeight("w", "id")).df.collect()}
    assert epochs == again                        # deterministic


def test_edit_distance_join_short_band_gram_filtered_and_guarded(spark):
    """Round-10 VERDICT item: the short-string pass must not be an
    unguarded crossJoin. Strings with k < len <= q*k+q-1 now route
    through a q=1-gram COUNT FILTER join (char bags of strings at
    ed <= k share >= max(len)-k entries — valid at any length) and
    only the both-lengths<=k residue (where EVERY pair matches, so
    the output itself is quadratic) crosses — behind a fail-fast
    short_cross_max guard."""
    import itertools

    import pytest as _pytest

    from beam_spark.operators.dedupe import EditDistanceJoin

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    # short-string-heavy corpus: every length band at k=2, q=2
    # (thresh=5): len<=k residue, the 3..5 band, and long strings
    texts = ["", "a", "b", "ab", "abc", "abd", "xyz", "abcd", "abcde",
             "abcdf", "qrstu", "vwxyz", "sparkle", "sparkel"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    want = {(i, j): lev(a, b)
            for (i, a), (j, b) in itertools.combinations(
                enumerate(texts), 2) if lev(a, b) <= 2}
    got = {(r["i"], r["j"]): r["dist"] for r in
           (PCollection(df) | EditDistanceJoin(k=2)).df.collect()}
    assert got == want

    # the guard: a len<=k-heavy corpus fails fast with instructions,
    # and raising short_cross_max deliberately lets it through
    many_short = spark.createDataFrame(
        [(i, "ab") for i in range(40)], "doc_id long, text string")
    with _pytest.raises(ValueError, match="short_cross_max"):
        # the count guard trips at plan-construction (expand) time
        PCollection(many_short) | EditDistanceJoin(
            k=2, short_cross_max=100)
    allowed = (PCollection(many_short)
               | EditDistanceJoin(k=2, short_cross_max=1000)).df
    assert allowed.count() == 40 * 39 // 2


def test_ann_query_collect_capped(spark):
    """Round-10 VERDICT item: BruteForceCosineTopK / PqCosineTopK
    collect the query frame to the driver — a corpus-sized queries=
    now raises an actionable error naming the distributed
    alternatives instead of OOMing the driver."""
    import pytest as _pytest

    from beam_spark.operators.similarity import (BruteForceCosineTopK,
                                                 PqCosineTopK)

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 0.25]) for i in range(50)],
        "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="LshCosineTopK"):
        (PCollection(emb) | BruteForceCosineTopK(
            emb, k=3, query_max_rows=10)).df.count()
    with _pytest.raises(ValueError, match="query_max_rows"):
        (PCollection(emb) | PqCosineTopK(
            emb, k=3, m=2, ks=4, query_max_rows=10)).df.count()
    # under the cap both still work
    ok = (PCollection(emb) | BruteForceCosineTopK(
        emb.limit(5), k=3, query_max_rows=10)).df
    assert ok.where("rank = 1").count() == 5


def test_fellegi_sunter_em_recovers_params(spark):
    """EM on pairs with planted structure: 200 true-match pairs agree
    on both fields ~90% of the time, 800 non-match pairs ~15% — the
    estimated m must exceed u decisively, p must sit near the true
    match fraction (0.2), and the weights must feed straight into
    RecordLinkageScore. Validation errors covered."""
    import pytest as _pytest

    from beam_spark.operators.dedupe import FellegiSunterEM

    # deterministic synthetic: id-hash decides agreement, no RNG
    rows, pairs = [], []
    rid = 0
    for pidx in range(1000):
        match = pidx < 200
        h1, h2 = (pidx * 7919) % 100, (pidx * 104729) % 100
        agree1 = h1 < (90 if match else 15)
        agree2 = h2 < (90 if match else 15)
        a, b = rid, rid + 1
        rid += 2
        rows += [(a, f"x{pidx}", f"y{pidx}"),
                 (b, f"x{pidx}" if agree1 else f"X{pidx}",
                  f"y{pidx}" if agree2 else f"Y{pidx}")]
        pairs.append((a, b))
    recs = spark.createDataFrame(rows, "doc_id long, fa string, fb string")
    pdf = spark.createDataFrame(pairs, "i long, j long")

    out = {r["field"]: r for r in
           (PCollection(pdf) | FellegiSunterEM(
               recs, ["fa", "fb"], iterations=20)).df.collect()}
    for f in ("fa", "fb"):
        assert out[f]["m"] > 0.7 > 0.3 > out[f]["u"], out[f]
        assert out[f]["w_agree"] > 0 > out[f]["w_disagree"]
    assert abs(out["fa"]["p"] - 0.2) < 0.08, out["fa"]["p"]

    with _pytest.raises(ValueError, match="non-empty"):
        FellegiSunterEM(recs, [])
    with _pytest.raises(ValueError, match="cap"):
        FellegiSunterEM(recs, [f"c{i}" for i in range(9)])
    with _pytest.raises(ValueError, match="init_u"):
        FellegiSunterEM(recs, ["fa"], init_m=0.1, init_u=0.9)
    with _pytest.raises(ValueError, match="iterations"):
        FellegiSunterEM(recs, ["fa"], iterations=0)


def test_triangle_count_known_graphs(spark):
    """K4: every node sits in C(3,2)=3 triangles with clustering 1.0;
    adding a pendant vertex gives it 0 triangles and drops its
    neighbor's coefficient; a pure path has no triangles. Input
    direction/duplicates/self-loops are normalized away."""
    from beam_spark.operators.graph import TriangleCount
    from beam_spark.pcollection import PCollection

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    # noise: reversed duplicates + a self-loop + pendant 4-0
    edges = k4 + [(b, a) for a, b in k4] + [(2, 2), (4, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: (r["triangles"], r["degree"], r["clustering"])
           for r in (PCollection(df) | TriangleCount()).df.collect()}
    assert out[1] == (3, 3, 1.0)
    assert out[2] == (3, 3, 1.0)
    assert out[3] == (3, 3, 1.0)
    assert out[0] == (3, 4, 0.5)     # 3 of C(4,2)=6 neighbor pairs
    assert out[4] == (0, 1, 0.0)     # pendant

    path = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                 "src long, dst long")
    pout = (PCollection(path) | TriangleCount()).df
    assert pout.agg({"triangles": "sum"}).collect()[0][0] == 0


def test_funnel_within_window_and_strict_order(spark):
    """Funnel semantics on a planted sequence: strict-after ordering
    (a same-timestamp event can't complete two steps), the within=
    window anchored at step 1, and monotone step counts. Also the
    Benford profile on a planted Benford-perfect sample."""
    import pytest as _pytest

    from beam_spark.operators.analytics import Funnel
    from beam_spark.pcollection import PCollection

    def t(sec):
        return f"2024-01-01 00:00:{sec:02d}"

    rows = [
        # u1 full conversion inside 30s
        ("u1", "view", t(1)), ("u1", "click", t(5)),
        ("u1", "purchase", t(10)),
        # u2: click BEFORE view -> stalls at view
        ("u2", "click", t(1)), ("u2", "view", t(5)),
        # u3: same-timestamp view+click -> strict > rejects the click
        ("u3", "view", t(7)), ("u3", "click", t(7)),
        # u4: converts but outside the 30s window
        ("u4", "view", t(1)), ("u4", "click", t(50)),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_type string, ts_s string") \
        .selectExpr("user_id", "event_type", "CAST(ts_s AS TIMESTAMP) AS ts")
    out = {r["step_name"]: (r["users"], r["conv_from_first"],
                            r["conv_from_prev"]) for r in
           (PCollection(df) | Funnel(["view", "click", "purchase"],
                                     within=30.0)).df.collect()}
    assert out["view"] == (4, 1.0, 1.0)
    assert out["click"] == (1, 0.25, 0.25)     # only u1
    assert out["purchase"] == (1, 0.25, 1.0)

    with _pytest.raises(ValueError, match=">= 2"):
        Funnel(["view"])
    with _pytest.raises(ValueError, match="distinct"):
        Funnel(["view", "view"])

    from beam_spark.operators.quality import BenfordProfile

    # Benford-perfect sample: 10^(k/100) for k=0..99 spans one decade
    # with first-digit frequencies matching log10(1+1/d) near-exactly
    bdf = spark.createDataFrame(
        [(float(10 ** (k / 100.0)),) for k in range(100)], "x double")
    prof = {r["digit"]: r for r in
            (PCollection(bdf) | BenfordProfile("x")).df.collect()}
    assert sum(r["n"] for r in prof.values()) == 100
    chi2 = sum(r["chi2_term"] for r in prof.values())
    assert chi2 < 1.0, chi2                 # near-perfect fit
    assert prof[1]["expected"] == 0.30103   # log10(2) at 6dp

    # full double range: the round-trip string form keeps the first
    # significant digit for magnitudes a decimal(28,6) cast would
    # NULL-overflow (>=1e22), round to zero (<5e-7), or half-up-carry
    # across a digit boundary (0.0999999 -> 1); zero/NaN/inf excluded
    xdf = spark.createDataFrame(
        [(3.7e25,), (9.1e30,), (2.3e-9,), (4.0e-7,), (0.0999999,),
         (0.0,), (float("nan",),), (float("inf"),), (None,)],
        "x double")
    xprof = {r["digit"]: r["n"] for r in
             (PCollection(xdf) | BenfordProfile("x")).df.collect()}
    assert sum(xprof.values()) == 5
    assert xprof[3] == 1 and xprof[9] == 2 and xprof[2] == 1
    assert xprof[4] == 1 and xprof[1] == 0


def test_cohort_retention_and_transitions_known(spark):
    """Cohort retention on a planted two-cohort dataset (known
    matrix) and transition probabilities on a planted chain."""
    import pytest as _pytest

    from beam_spark.operators.analytics import (CohortRetention,
                                                TransitionCounts)
    from beam_spark.pcollection import PCollection

    rows = [
        # cohort 2024-01: u1 active Jan+Feb+Mar, u2 active Jan only
        ("u1", "2024-01-05"), ("u1", "2024-02-10"), ("u1", "2024-03-02"),
        ("u2", "2024-01-20"),
        # cohort 2024-02: u3 active Feb+Mar
        ("u3", "2024-02-01"), ("u3", "2024-03-30"),
    ]
    df = spark.createDataFrame(rows, "user_id string, d string") \
        .selectExpr("user_id", "CAST(d AS TIMESTAMP) AS ts")
    got = {(r["cohort"], r["offset"]): (r["users"], r["retention"])
           for r in (PCollection(df) | CohortRetention()).df.collect()}
    assert got[("2024-01", 0)] == (2, 1.0)
    assert got[("2024-01", 1)] == (1, 0.5)
    assert got[("2024-01", 2)] == (1, 0.5)
    assert got[("2024-02", 0)] == (1, 1.0)
    assert got[("2024-02", 1)] == (1, 1.0)
    assert len(got) == 5
    with _pytest.raises(ValueError, match="granularity"):
        CohortRetention(granularity="quarter")

    ev = [("u", i, e) for i, e in enumerate(
        ["a", "b", "a", "b", "a", "c"])] + [("v", 0, "a"), ("v", 1, "b")]
    edf = spark.createDataFrame(ev, "user_id string, i long, event_type string")
    tr = {(r["src_event"], r["dst_event"]): (r["n"], r["p"]) for r in
          (PCollection(edf) | TransitionCounts(order_by="i")).df.collect()}
    # a -> b x3, a -> c x1, b -> a x2 (u only; v's trailing b has no next)
    assert tr[("a", "b")] == (3, 0.75)
    assert tr[("a", "c")] == (1, 0.25)
    assert tr[("b", "a")] == (2, 1.0)
    assert len(tr) == 3


def test_jaro_winkler_textbook_values(spark):
    """JaroWinklerScore reproduces the textbook values (MARTHA/MARHTA,
    DIXON/DICKSONX), applies the Winkler boost only above jaro 0.7,
    caps the prefix at 4, and scores NULL on NULL."""
    from beam_spark.operators.dedupe import JaroWinklerScore, _jaro_winkler
    from beam_spark.pcollection import PCollection

    assert _jaro_winkler("MARTHA", "MARHTA") == (
        0.9444444444444445, 0.9611111111111111)
    j, jw = _jaro_winkler("DIXON", "DICKSONX")
    assert abs(j - 0.7666666666666666) < 1e-12
    assert abs(jw - 0.8133333333333332) < 1e-12
    # below the 0.7 threshold the boost never applies despite prefix 2
    j, jw = _jaro_winkler("abcdefgh", "abzzzzzz")
    assert j == jw == 0.5
    assert _jaro_winkler("a", "b") == (0.0, 0.0)
    assert _jaro_winkler("", "abc") == (0.0, 0.0)

    recs = spark.createDataFrame(
        [(0, "MARTHA"), (1, "MARHTA"), (2, None)],
        "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1), (0, 2)], "i long, j long")
    out = {(r["i"], r["j"]): (r["jaro"], r["jaro_winkler"]) for r in
           (PCollection(pairs) | JaroWinklerScore(recs)).df.collect()}
    assert out[(0, 1)] == (0.9444444444444445, 0.9611111111111111)
    assert out[(0, 2)] == (None, None)


def test_kcore_known_graph_and_fixpoint(spark):
    """KCore fixpoint mode on a known graph: K5 plus a pendant chain —
    the 3-core is exactly the K5 (cascading peel: removing the chain
    tail drops its parent below 3 next round... chain peels fully),
    each member at in-core degree 4; k above the max degree empties."""
    from beam_spark.operators.graph import KCore
    from beam_spark.pcollection import PCollection

    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    chain = [(4, 5), (5, 6), (6, 7)]     # peels under k=3
    df = spark.createDataFrame(k5 + chain, "src long, dst long")
    out = {r["node"]: r["degree"] for r in
           (PCollection(df) | KCore(3)).df.collect()}
    assert out == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4}

    assert (PCollection(df) | KCore(5)).df.count() == 0

    # fixed_rounds >= convergence rounds equals fixpoint mode
    fixed = {r["node"]: r["degree"] for r in
             (PCollection(df) | KCore(3, fixed_rounds=6)).df.collect()}
    assert fixed == out


def test_blocking_quality_known_counts(spark):
    """BlockingQuality on hand-computable sets: 6 records, candidates
    = 4 pairs, truth = 3 pairs, 2 overlap; orientation and duplicate
    pairs normalize away; total pairs C(6,2)=15."""
    import pytest as _pytest

    from beam_spark.operators.dedupe import BlockingQuality
    from beam_spark.pcollection import PCollection

    cand = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (5, 6), (1, 6), (4, 4)],
        "i long, j long")                    # -> {12, 34, 56, 16}
    truth = spark.createDataFrame(
        [(2, 1), (3, 4), (2, 5)], "i long, j long")
    row = (PCollection(cand) | BlockingQuality(
        truth, total_records=6)).df.collect()[0]
    assert (row["candidates"], row["truth"], row["matched"]) == (4, 3, 2)
    assert row["reduction_ratio"] == round(1 - 4 / 15, 6)
    assert row["pair_completeness"] == round(2 / 3, 6)
    assert row["pair_quality"] == 0.5
    with _pytest.raises(ValueError, match="total_records"):
        BlockingQuality(truth, total_records=1)


def test_label_propagation_known_graphs(spark):
    """LabelPropagation on two known topologies: (1) two disjoint
    triangles — every node converges to its component's min id
    (community = CC here, since each triangle is its own majority);
    (2) a 4-star — synchronous LPA 2-cycles between center/leaf
    labels, so fixed_rounds replay is checked round-for-round
    (round 1: center adopts min leaf, leaves adopt center; round 2:
    center adopts the round-1 leaf label = its OWN original id)."""
    from beam_spark.operators.graph import LabelPropagation
    from beam_spark.pcollection import PCollection

    tri2 = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
        "src long, dst long")
    out = {(r["node"], r["community"]) for r in
           (PCollection(tri2) | LabelPropagation(max_rounds=10))
           .df.collect()}
    assert out == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)}

    star = spark.createDataFrame(
        [(5, 1), (5, 2), (5, 3), (5, 4)], "src long, dst long")
    r1 = {(r["node"], r["community"]) for r in
          (PCollection(star) | LabelPropagation(fixed_rounds=1))
          .df.collect()}
    # round 1: center 5 sees leaf labels {1,2,3,4} all count 1 ->
    # min = 1; each leaf sees only {5}
    assert r1 == {(5, 1), (1, 5), (2, 5), (3, 5), (4, 5)}
    r2 = {(r["node"], r["community"]) for r in
          (PCollection(star) | LabelPropagation(fixed_rounds=2))
          .df.collect()}
    # round 2: center sees leaves all labeled 5 -> 5; leaves see
    # center labeled 1 -> the 2-cycle
    assert r2 == {(5, 5), (1, 1), (2, 1), (3, 1), (4, 1)}


def test_label_propagation_tiebreak_and_selfloops(spark):
    """Min-label tiebreak: node 3 adjacent to communities {1} and {2}
    with equal neighbor counts adopts 1, never 2 — and self-loops /
    duplicate / reversed edges are dropped by the undirected dedupe."""
    from beam_spark.operators.graph import LabelPropagation
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(1, 3), (3, 1), (2, 3), (3, 3), (1, 3)],
        "src long, dst long")
    r1 = {(r["node"], r["community"]) for r in
          (PCollection(df) | LabelPropagation(fixed_rounds=1))
          .df.collect()}
    assert r1 == {(3, 1), (1, 3), (2, 3)}


def test_theta_forecast_closed_form(spark):
    """ThetaForecast on an exactly-linear series: the OLS line is the
    series itself, the theta=2 line z_t = 2x_t - x_t = x_t, SES of a
    line lags it, and the forecast is the average of the exact line
    extrapolation and the SES level — checked against an independent
    scalar replay; keys with < 2 rows are dropped."""
    from beam_spark.operators.stats import ThetaForecast
    from beam_spark.pcollection import PCollection

    rows = [(1, t, 2.0 * t + 1.0) for t in range(1, 9)]
    rows += [(2, 1, 42.0)]                      # single row: dropped
    df = spark.createDataFrame(rows, "user_id long, seq long, v double")
    out = {(r["user_id"], r["h"]):
           (r["slope"], r["intercept"], r["level"], r["forecast"])
           for r in (PCollection(df) | ThetaForecast(
               "v", keys="user_id", order_by=["seq"],
               horizons=[1, 4])).df.collect()}
    assert set(out) == {(1, 1), (1, 4)}

    # scalar replay (same op order as the operator)
    x = [2.0 * t + 1.0 for t in range(1, 9)]
    st = sy = stt = sty = 0.0
    for t in range(1, 9):
        tf = float(t)
        st += tf
        sy += x[t - 1]
        stt += tf * tf
        sty += tf * x[t - 1]
    nn = 8.0
    b = (nn * sty - st * sy) / (nn * stt - st * st)
    ic = (sy - b * st) / nn
    lv = 2.0 * x[0] - (ic + b * 1.0)
    for t in range(2, 9):
        lv = 0.5 * (2.0 * x[t - 1] - (ic + b * float(t))) + 0.5 * lv
    for h in (1, 4):
        fc = 0.5 * (ic + b * (nn + float(h))) + 0.5 * lv
        assert out[(1, h)] == (b, ic, lv, fc)
    assert abs(b - 2.0) < 1e-12 and abs(ic - 1.0) < 1e-12


def test_theta_forecast_damped(spark):
    """Drift-damped theta: phi=1 is bit-identical to the classic
    method; phi=0.5 replaces the step h with the geometric sum
    0.5*(1-0.5^h)/0.5, which shrinks a positive-slope forecast and
    leaves slope/intercept/level untouched."""
    from beam_spark.operators.stats import ThetaForecast
    from beam_spark.pcollection import PCollection

    rows = [(1, t, 3.0 * t + 0.25 * (t % 3)) for t in range(1, 10)]
    df = spark.createDataFrame(rows, "user_id long, seq long, v double")

    def run(**kw):
        return {(r["user_id"], r["h"]):
                (r["slope"], r["intercept"], r["level"], r["forecast"])
                for r in (PCollection(df) | ThetaForecast(
                    "v", keys="user_id", order_by=["seq"],
                    horizons=[1, 4], **kw)).df.collect()}

    base, phi1, damped = run(), run(damping=1.0), run(damping=0.5)
    assert phi1 == base
    for h in (1, 4):
        b, ic, lv, fc = base[(1, h)]
        db, dic, dlv, dfc = damped[(1, h)]
        assert (db, dic, dlv) == (b, ic, lv)
        step = 0.5 * (1.0 - 0.5 ** h) / 0.5
        assert dfc == 0.5 * (ic + b * (9.0 + step)) + 0.5 * lv
        assert dfc < fc  # positive slope -> damping shrinks


def test_theta_forecast_rejects_nulls_and_bad_args(spark):
    import pytest

    from beam_spark.operators.stats import ThetaForecast
    from beam_spark.pcollection import PCollection

    with pytest.raises(ValueError, match="alpha"):
        ThetaForecast("v", keys="k", order_by="t", alpha=0.0)
    with pytest.raises(ValueError, match="horizons"):
        ThetaForecast("v", keys="k", order_by="t", horizons=[0])
    with pytest.raises(ValueError, match="damping"):
        ThetaForecast("v", keys="k", order_by="t", damping=0.0)
    df = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, None)], "user_id long, seq long, v double")
    with pytest.raises(Exception, match="NULL"):
        (PCollection(df) | ThetaForecast(
            "v", keys="user_id", order_by=["seq"])).df.collect()


def test_croston_known_series(spark):
    """Croston on a hand-replayable intermittent series: demands 4 at
    t=2, 6 at t=5 (gap 3), 2 at t=9 (gap 4), zeros elsewhere —
    z and p follow the coupled SES by hand; a no-demand key drops."""
    from beam_spark.operators.stats import CrostonForecast
    from beam_spark.pcollection import PCollection

    rows = [(1, t, {2: 4.0, 5: 6.0, 9: 2.0}.get(t, 0.0))
            for t in range(1, 11)]
    rows += [(2, 1, 0.0), (2, 2, 0.0)]
    df = spark.createDataFrame(rows, "k long, seq long, v double")
    out = {r["k"]: r for r in (PCollection(df) | CrostonForecast(
        "v", keys="k", order_by=["seq"])).df.collect()}
    assert set(out) == {1}
    r = out[1]
    z = 4.0
    p = 2.0
    z = 0.5 * 6.0 + 0.5 * z          # 5.0
    p = 0.5 * 3.0 + 0.5 * p          # 2.5
    z = 0.5 * 2.0 + 0.5 * z          # 3.5
    p = 0.5 * 4.0 + 0.5 * p          # 3.25
    assert (r["demands"], r["z"], r["p"]) == (3, z, p)
    assert r["forecast"] == z / p
    assert r["sba"] == 0.75 * (z / p)


def test_jsd_drift_bounds_and_identity(spark):
    """JSD mode: identical distributions score 0; disjoint
    distributions score exactly 1 bit (the JSD upper bound) — the
    case that saturates PSI's eps-clamped log-ratio."""
    from beam_spark.operators.quality import DistributionDrift
    from beam_spark.pcollection import PCollection

    ref = spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
    same = spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
    r0 = (PCollection(same) | DistributionDrift(ref, "v", metric="jsd")
          ).df.collect()[0]
    assert r0["jsd"] == 0.0 and r0["drifted"] == 0
    # current mass entirely in the top reference bin's clamp region
    far = spark.range(500).selectExpr("CAST(1e6 AS DOUBLE) AS v")
    r1 = (PCollection(far) | DistributionDrift(ref, "v", metric="jsd")
          ).df.collect()[0]
    # ref has mass in bin 9 too (clamped overlap), so < 1; but the
    # divergence is near the bound and flags
    assert 0.5 < r1["jsd"] <= 1.0 and r1["drifted"] == 1

    import pytest
    with pytest.raises(ValueError, match="metric"):
        DistributionDrift(ref, "v", metric="kl")


def test_mmr_rerank_demotes_redundant(spark):
    """MMR with lam=0.5: two near-identical top candidates — plain
    top-k would rank them 1-2; MMR picks the diverse third doc at
    rank 2 because the twin's similarity penalty outweighs its score
    edge. First pick is always the plain top-score hit."""
    from beam_spark.operators.retrieval import MmrRerank
    from beam_spark.pcollection import PCollection

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]),
         (2, [0.999, 0.04, 0.0]),     # near-twin of doc 1
         (3, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>")
    cand = spark.createDataFrame(
        [(7, 1, 0.95), (7, 2, 0.94), (7, 3, 0.80)],
        "query_id long, doc_id long, score double")
    out = sorted((r["rank"], r["doc_id"]) for r in
                 (PCollection(cand) | MmrRerank(vecs, k=3, lam=0.5))
                 .df.collect())
    assert out == [(1, 1), (2, 3), (3, 2)]


def test_mmr_rerank_tiebreak_and_k_cap(spark):
    """Equal scores and orthogonal vectors: selection follows the
    doc-id tie-break; k caps at the candidate count."""
    from beam_spark.operators.retrieval import MmrRerank
    from beam_spark.pcollection import PCollection

    vecs = spark.createDataFrame(
        [(5, [1.0, 0.0]), (6, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    cand = spark.createDataFrame(
        [(1, 6, 0.5), (1, 5, 0.5)],
        "query_id long, doc_id long, score double")
    out = sorted((r["rank"], r["doc_id"]) for r in
                 (PCollection(cand) | MmrRerank(vecs, k=10, lam=0.75))
                 .df.collect())
    assert out == [(1, 5), (2, 6)]


def test_modularity_known_partition(spark):
    """Modularity on two triangles joined by one bridge edge, with
    the natural 2-community split: m=7, each community has 3 intra
    edges and degree sum 7, so contribution = 3/7 - (7/14)^2 = 0.25
    exactly half-representable arithmetic — Q = 0.5 - 2*(0.25) ...
    checked per community; an unassigned-node edge counts toward m
    and degree but no community."""
    from beam_spark.operators.graph import Modularity
    from beam_spark.pcollection import PCollection

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long")
    com = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)],
        "node long, community long")
    out = {r["community"]: r for r in
           (PCollection(edges) | Modularity(com)).df.collect()}
    for c in (1, 4):
        r = out[c]
        assert (r["n_nodes"], r["intra_edges"], r["degree_sum"]) \
            == (3, 3, 7)
        assert r["contribution"] == 3.0 / 7 - (7.0 / 14) * (7.0 / 14)
    q = sum(r["contribution"] for r in out.values())
    assert 0.35 < q < 0.36        # 2*(3/7 - 1/4) = 6/7 - 1/2


def test_tsb_known_series_and_decay(spark):
    """TSB on a hand-replayable series: demand 4 at t=1, zero at
    t=2-3, demand 2 at t=4 — p decays through the zero run (the
    Croston blind spot TSB fixes); a no-demand key drops."""
    from beam_spark.operators.stats import TsbForecast
    from beam_spark.pcollection import PCollection

    rows = [(1, 1, 4.0), (1, 2, 0.0), (1, 3, 0.0), (1, 4, 2.0),
            (2, 1, 0.0)]
    df = spark.createDataFrame(rows, "k long, seq long, v double")
    out = {r["k"]: r for r in (PCollection(df) | TsbForecast(
        "v", keys="k", order_by=["seq"])).df.collect()}
    assert set(out) == {1}
    r = out[1]
    p = 1.0
    p = 0.25 * 0.0 + 0.75 * p     # 0.75
    p = 0.25 * 0.0 + 0.75 * p     # 0.5625
    p = 0.25 * 1.0 + 0.75 * p     # 0.671875
    z = 0.5 * 2.0 + 0.5 * 4.0     # 3.0
    assert (r["periods"], r["demands"], r["p"], r["z"]) == (4, 2, p, z)
    assert r["forecast"] == p * z


def test_label_propagation_weighted_vote(spark):
    """Weighted LPA: node 3 has one heavy edge to 1 (w=5) and two
    unit edges to {2, 4} — unweighted it would adopt the min of the
    majority; weighted, the single heavy neighbor wins. Parallel
    edges pre-sum per pair."""
    from beam_spark.operators.graph import LabelPropagation
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(1, 3, 3.0), (3, 1, 2.0), (2, 3, 1.0), (3, 4, 1.0)],
        "src long, dst long, w double")
    r1 = {(r["node"], r["community"]) for r in
          (PCollection(df) | LabelPropagation(fixed_rounds=1,
                                              weight="w")).df.collect()}
    # node 3's votes: lbl 1 weight 5 (3+2 parallel), lbl 2 and 4
    # weight 1 each -> adopts 1; leaves all adopt 3
    assert r1 == {(3, 1), (1, 3), (2, 3), (4, 3)}


def test_forecast_eval_known_values(spark):
    """ForecastEval on a hand-computed frame: actuals [10,12,11,13],
    forecasts [9,13,11,12] -> errs [1,-1,0,1]; naive diffs
    [2,-1,2] -> naive_mae = 5/3; mase = 0.75/(5/3) = 0.45. A zero
    actual is excluded from MAPE only."""
    from beam_spark.operators.stats import ForecastEval
    from beam_spark.pcollection import PCollection

    rows = [(1, 1, 10.0, 9.0), (1, 2, 12.0, 13.0),
            (1, 3, 11.0, 11.0), (1, 4, 13.0, 12.0)]
    df = spark.createDataFrame(
        rows, "k long, seq long, actual double, fc double")
    r = (PCollection(df) | ForecastEval(
        "actual", "fc", keys="k", order_by=["seq"])).df.collect()[0]
    assert r["n"] == 4
    assert r["mae"] == 0.75
    assert r["bias"] == 0.25
    assert r["rmse"] == round((3.0 / 4) ** 0.5, 6)
    assert r["mase"] == round(0.75 / (5.0 / 3.0), 6)
    mape = (1 / 10 + 1 / 12 + 0.0 + 1 / 13) / 4
    assert r["mape"] == round(mape, 6)

    z = spark.createDataFrame(
        [(2, 1, 0.0, 1.0), (2, 2, 4.0, 2.0)],
        "k long, seq long, actual double, fc double")
    rz = (PCollection(z) | ForecastEval(
        "actual", "fc", keys="k", order_by=["seq"])).df.collect()[0]
    assert rz["n"] == 2               # zero actual still scored...
    assert rz["mape"] == 0.5          # ...but only row 2 in MAPE


def test_winsorize_known_bounds(spark):
    """Winsorize [p25, p75] on 1..9 plus a 1e9 outlier: exact
    interpolated p25 = 3.25, p75 = 7.75; the outlier clips high, 1-3
    clip low, flags mark direction; approx mode stays within the
    sketch's rank tolerance."""
    import pytest

    from beam_spark.operators.quality import Winsorize
    from beam_spark.pcollection import PCollection

    vals = [float(i) for i in range(1, 10)] + [1e9]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = {r["v"]: (r["v_wins"], r["v_clipped"]) for r in
           (PCollection(df) | Winsorize("v", 0.25, 0.75)).df.collect()}
    assert out[1e9] == (7.75, 1)
    assert out[1.0] == (3.25, -1)
    assert out[3.0] == (3.25, -1)
    assert out[5.0] == (5.0, 0)
    with pytest.raises(ValueError, match="lower"):
        Winsorize("v", 0.9, 0.1)


def test_robust_scale_known_and_constant(spark):
    """RobustScale on 1..9: exact interpolation puts p25/p50/p75 at
    positions 2/4/6 -> values 3/5/7, IQR=4, so x=1 scales to -1;
    a constant column yields NULL (zero IQR guard)."""
    from beam_spark.operators.quality import RobustScale
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 10)], "v double")
    out = {r["v"]: r["v_scaled"] for r in
           (PCollection(df) | RobustScale("v")).df.collect()}
    assert out[5.0] == 0.0
    assert out[1.0] == -1.0
    assert out[9.0] == 1.0
    const = spark.createDataFrame([(2.0,)] * 5, "v double")
    rows = (PCollection(const) | RobustScale("v")).df.collect()
    assert all(r["v_scaled"] is None for r in rows)


def test_association_rules_known_baskets(spark):
    """Hand-computed baskets: 4 baskets over items x/y/z where x,y
    co-occur in 3, x,z in 1 (pruned by min_support=2); duplicate rows
    within a basket collapse (presence semantics); min_confidence
    filters directionally."""
    from beam_spark.operators.analytics import AssociationRules
    from beam_spark.pcollection import PCollection

    rows = [(1, "x"), (1, "x"), (1, "y"), (1, "z"),
            (2, "x"), (2, "y"),
            (3, "x"), (3, "y"),
            (4, "x")]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {(r["antecedent"], r["consequent"]): r for r in (
        PCollection(df) | AssociationRules(
            "item", basket_keys="basket", min_support=2)).df.collect()}
    assert set(out) == {("x", "y"), ("y", "x")}
    xy = out[("x", "y")]
    assert (xy["pair_n"], xy["ante_n"], xy["cons_n"],
            xy["n_baskets"]) == (3, 4, 3, 4)
    assert xy["support"] == 0.75
    assert xy["confidence"] == 0.75
    assert xy["lift"] == (3.0 * 4.0) / (4.0 * 3.0)
    yx = out[("y", "x")]
    assert yx["confidence"] == 1.0

    conf = (PCollection(df) | AssociationRules(
        "item", basket_keys="basket", min_support=2,
        min_confidence=0.9)).df.collect()
    assert [(r["antecedent"], r["consequent"]) for r in conf] == [("y", "x")]

    import pytest

    with pytest.raises(ValueError, match="min_support"):
        AssociationRules("item", basket_keys="b", min_support=0)
    with pytest.raises(ValueError, match="min_confidence"):
        AssociationRules("item", basket_keys="b", min_confidence=1.5)


def test_binary_classifier_metrics_known(spark):
    """Hand-computed 4-row example with a score tie: midrank AUC =
    (6.5 - 3)/4 = 0.875; confusion at 0.5 gives P=1, R=0.5, F1=2/3;
    Brier = 0.57/4 exactly; single-class input yields NULL AUC."""
    import math

    import pytest as pt

    from beam_spark.operators.quality import BinaryClassifierMetrics
    from beam_spark.pcollection import PCollection

    rows = [(0.1, 0), (0.4, 0), (0.4, 1), (0.8, 1)]
    df = spark.createDataFrame(rows, "score double, label int")
    r = (PCollection(df) | BinaryClassifierMetrics(
        "score", "label")).df.collect()[0]
    assert (r["n"], r["n_pos"], r["n_neg"]) == (4, 2, 2)
    assert r["auc"] == 0.875
    assert (r["tp"], r["fp"], r["tn"], r["fn"]) == (1, 0, 2, 1)
    assert r["precision"] == 1.0 and r["recall"] == 0.5
    assert r["f1"] == 2.0 / 3.0
    assert r["brier"] == round(0.57 / 4, 6)
    ll = -(math.log(0.9) + math.log(0.6) + math.log(0.4)
           + math.log(0.8)) / 4
    assert r["logloss"] == pt.approx(ll, abs=1e-5)

    one = spark.createDataFrame([(0.9, 1), (0.2, 1)],
                                "score double, label int")
    r1 = (PCollection(one) | BinaryClassifierMetrics(
        "score", "label")).df.collect()[0]
    assert r1["auc"] is None and r1["recall"] == 0.5

    with pt.raises(ValueError, match="eps"):
        BinaryClassifierMetrics("s", "y", eps=0.7)


def test_pmi_collocations_known(spark):
    """Tiny corpus where "new york" always co-occurs: PMI is exactly
    ln(c12 * n_uni^2 / (n_big * c1 * c2)); single-token and NULL docs
    contribute no bigrams; min_count prunes."""
    import math

    from beam_spark.operators.text import PmiCollocations
    from beam_spark.pcollection import PCollection

    rows = [("New York is big",), ("new york wins",),
            ("york",), (None,), ("is is",)]
    df = spark.createDataFrame(rows, "text string")
    out = {(r["w1"], r["w2"]): r for r in (
        PCollection(df) | PmiCollocations("text", min_count=2)).df
        .collect()}
    # tokens: [new york is big], [new york wins], [york], [is is]
    # n_uni = 10; bigrams: (new,york)x2 (york,is) (is,big) (york,wins)
    # (is,is) -> n_big = 6; only (new,york) reaches min_count=2
    assert set(out) == {("new", "york")}
    r = out[("new", "york")]
    assert (r["pair_n"], r["w1_n"], r["w2_n"]) == (2, 2, 3)
    assert r["pmi"] == round(
        math.log((2.0 * 10.0 * 10.0) / (6.0 * 2.0 * 3.0)), 6)

    import pytest as pt

    with pt.raises(ValueError, match="min_count"):
        PmiCollocations("text", min_count=0)


def test_kmeans_lloyd_known_2d(spark):
    """2-D spherical k-means: axis-aligned seeds separate the two
    bundles; centroids_ converge to the normalized bundle means;
    duplicate seeds leave one cluster empty, which keeps its previous
    centroid (tie -> smallest cluster index wins assignment)."""
    import math

    from beam_spark.operators.similarity import KMeansLloyd
    from beam_spark.pcollection import PCollection

    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]),
            (3, [0.9, 0.1]), (4, [0.1, 0.9]), (5, [0.8, 0.2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    km = KMeansLloyd(k=2, rounds=2)
    out = {r["vec_id"]: r["cluster"]
           for r in (PCollection(df) | km).df.collect()}
    assert out == {1: 0, 3: 0, 5: 0, 2: 1, 4: 1}
    # cluster-0 centroid ~ normalize(mean([1,0],[.9,.1],[.8,.2]))
    m = [0.9, 0.1]
    n = math.hypot(*m)
    assert km.centroids_[0][0] == round(m[0] / n, 9)
    assert km.centroids_[0][1] == round(m[1] / n, 9)

    # duplicate seeds: round-1 sims tie at both centroids -> everything
    # to cluster 0, so empty cluster 1 keeps its (seed) centroid; the
    # FINAL assignment then pulls the exact-match rows back to that
    # stationary centroid (sim 1.0 beats the moved mean)
    dup = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.6, 0.8])],
        "vec_id long, embedding array<double>")
    km2 = KMeansLloyd(k=2, rounds=1)
    out2 = {r["vec_id"]: r["cluster"]
            for r in (PCollection(dup) | km2).df.collect()}
    assert out2 == {1: 1, 2: 1, 3: 0}
    assert km2.centroids_[1] == [1.0, 0.0]

    import pytest as pt

    with pt.raises(ValueError, match="only 2 non-NULL"):
        (PCollection(dup.limit(2)) | KMeansLloyd(k=3)).df
    with pt.raises(ValueError, match="k"):
        KMeansLloyd(k=0)
    with pt.raises(ValueError, match="rounds"):
        KMeansLloyd(k=2, rounds=-1)


def test_cohens_kappa_known(spark):
    """Textbook 2x2 example: 20 items, raters agree on 15
    (10 yes-yes, 5 no-no), marginals a=(12,8), b=(13,7):
    p_o=0.75, p_e=(12*13+8*7)/400=0.53, kappa=(15*20-212)/(400-212);
    perfect agreement gives kappa=1; a single shared category makes
    kappa NULL; NULL labels are dropped."""
    from beam_spark.operators.quality import CohensKappa
    from beam_spark.pcollection import PCollection

    rows = ([("y", "y")] * 10 + [("n", "n")] * 5
            + [("y", "n")] * 2 + [("n", "y")] * 3
            + [(None, "y"), ("y", None)])
    df = spark.createDataFrame(rows, "a string, b string")
    r = (PCollection(df) | CohensKappa("a", "b")).df.collect()[0]
    assert (r["n"], r["agree"], r["n_categories"]) == (20, 15, 2)
    assert r["p_o"] == 0.75
    assert r["p_e"] == (12 * 13 + 8 * 7) / 400
    assert r["kappa"] == (15 * 20 - 212) / (400 - 212)

    perfect = spark.createDataFrame(
        [("a", "a"), ("b", "b"), ("c", "c")], "a string, b string")
    rp = (PCollection(perfect) | CohensKappa("a", "b")).df.collect()[0]
    assert rp["kappa"] == 1.0

    degen = spark.createDataFrame([("a", "a")] * 4, "a string, b string")
    rd = (PCollection(degen) | CohensKappa("a", "b")).df.collect()[0]
    assert rd["kappa"] is None and rd["p_e"] == 1.0


def test_ranking_metrics_known(spark):
    """Hand-computed NDCG@2: 3 docs with rel (3, 0, 1), prediction
    puts the rel-0 doc first -> DCG@2 = 0 + 7/log2(3), IDCG@2 =
    7/1 + 1/log2(3); MRR = 1/2 (first relevant at predicted rank 2);
    P@2 = 0.5; a query with no relevant docs gets ndcg NULL, mrr 0."""
    import math

    from beam_spark.operators.quality import RankingMetrics
    from beam_spark.pcollection import PCollection

    rows = [
        (1, 10, 0.9, 0.0), (1, 11, 0.8, 3.0), (1, 12, 0.1, 1.0),
        (2, 20, 0.5, 0.0), (2, 21, 0.4, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, score double, rel double")
    out = {r["query_id"]: r for r in (PCollection(df) | RankingMetrics(
        k=2)).df.collect()}
    r1 = out[1]
    dcg = 0.0 + 7.0 / math.log2(3)
    idcg = 7.0 / 1.0 + 1.0 / math.log2(3)
    assert r1["dcg"] == round(dcg, 6)
    assert r1["idcg"] == round(idcg, 6)
    assert abs(r1["ndcg"] - dcg / idcg) < 2e-6
    assert r1["mrr"] == 0.5
    assert r1["precision_at_k"] == 0.5
    # AP@2: relevant hits in top-2 at predicted rank 2 (cum_rel 1)
    # -> precision 1/2; normalized by min(n_rel=2, k=2) -> 0.25
    assert r1["ap"] == 0.25
    r2 = out[2]
    assert r2["ndcg"] is None and r2["mrr"] == 0.0
    assert r2["dcg"] == 0.0 and r2["precision_at_k"] == 0.0
    assert r2["ap"] is None

    import pytest as pt

    with pt.raises(ValueError, match="k"):
        RankingMetrics(k=0)


def test_fleiss_kappa_known(spark):
    """Textbook 3-item, 4-rater example: counts per item over {a,b}:
    (4,0), (2,2), (0,4). S2 = 16+8+16 = 40, N=3, n=4, c=(6,6),
    T=72, M=144, D1=36: p_bar=(40-12)/36, p_e=0.5,
    kappa=(144*28-36*72)/(36*72). Incomplete items are dropped;
    unanimous single-category input -> kappa NULL."""
    from beam_spark.operators.quality import FleissKappa
    from beam_spark.pcollection import PCollection

    rows = ([(1, "a")] * 4 + [(2, "a")] * 2 + [(2, "b")] * 2
            + [(3, "b")] * 4 + [(4, "a")] * 3)   # item 4: only 3 -> drop
    df = spark.createDataFrame(rows, "item long, cat string")
    r = (PCollection(df) | FleissKappa("item", "cat",
                                       n_ratings=4)).df.collect()[0]
    assert (r["n_items"], r["n_ratings"], r["n_categories"]) == (3, 4, 2)
    assert r["p_bar"] == 28 / 36
    assert r["p_e"] == 0.5
    assert r["kappa"] == (144 * 28 - 36 * 72) / (36 * 72)

    unan = spark.createDataFrame([(1, "a")] * 2 + [(2, "a")] * 2,
                                 "item long, cat string")
    ru = (PCollection(unan) | FleissKappa("item", "cat",
                                          n_ratings=2)).df.collect()[0]
    assert ru["kappa"] is None and ru["p_bar"] == 1.0 and ru["p_e"] == 1.0

    import pytest as pt

    with pt.raises(ValueError, match="n_ratings"):
        FleissKappa("i", "c", n_ratings=0)


def test_zorder_key_known(spark):
    """2-bit Morton interleave over x in [0,3], y in [0,3]: the key
    equals the textbook Morton table (x owns even bits, y odd bits);
    NULL input -> NULL key; constant column scales to word 0; locality
    holds (sorting by key groups quadrants together)."""
    from beam_spark.operators.scd import ZOrderKey
    from beam_spark.pcollection import PCollection

    rows = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = {(r["x"], r["y"]): r["zorder_key"] for r in (
        PCollection(df) | ZOrderKey(["x", "y"], bits=2)).df.collect()}

    def morton(x, y):
        k = 0
        for b in range(2):
            k |= ((x >> b) & 1) << (2 * b)
            k |= ((y >> b) & 1) << (2 * b + 1)
        return k

    # min=0, max=3 -> scaling maps v -> v exactly (v * 3 // 3)
    assert out == {(x, y): morton(x, y) for x, y in rows}

    with_null = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None)], "x long, y long")
    kn = [(r["x"], r["y"], r["zorder_key"]) for r in (
        PCollection(with_null) | ZOrderKey(["x", "y"], bits=4))
        .df.collect()]
    assert all(k is None for x, y, k in kn if x is None or y is None)

    const = spark.createDataFrame([(7, 1), (7, 2)], "x long, y long")
    kc = {r["y"]: r["zorder_key"] for r in (
        PCollection(const) | ZOrderKey(["x", "y"], bits=3))
        .df.collect()}
    assert kc[1] == 0  # both words 0 at the min

    import pytest as pt

    with pt.raises(ValueError, match=">= 2 columns"):
        ZOrderKey(["x"])
    with pt.raises(ValueError, match="BIGINT"):
        ZOrderKey(["x", "y"], bits=32)


def test_zipf_fit_known(spark):
    """Exact power law count = 48 / rank (counts 48,24,16,12):
    ln(count) = ln(48) - 1*ln(rank), so slope = -1, intercept = ln(48),
    r2 = 1 (up to the decimal-12 moment rounding); constant counts
    give r2 NULL (zero y-variance) but a defined slope of 0."""
    import math

    from beam_spark.operators.text import ZipfFit
    from beam_spark.pcollection import PCollection

    docs = [" ".join(["a"] * 48 + ["b"] * 24 + ["c"] * 16 + ["d"] * 12)]
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    r = (PCollection(df) | ZipfFit("text")).df.collect()[0]
    assert r["n_terms"] == 4
    assert abs(r["slope"] - (-1.0)) < 1e-6
    assert abs(r["intercept"] - math.log(48)) < 1e-6
    assert abs(r["r2"] - 1.0) < 1e-6

    flat = spark.createDataFrame([("x y z x y z",)], "text string")
    rf = (PCollection(flat) | ZipfFit("text")).df.collect()[0]
    assert rf["r2"] is None and rf["slope"] == 0.0

    import pytest as pt

    with pt.raises(ValueError, match="min_count"):
        ZipfFit("text", min_count=0)
    with pt.raises(ValueError, match="max_rank"):
        ZipfFit("text", max_rank=1)


def test_skew_profile_known(spark):
    """Hand-computed key distribution {a:6, b:2, c:1, d:1}: n=10, K=4,
    ascending ranks (c,d,b,a) -> gini = (2*(1*1+2*1+3*2+4*6)-5*10)/40
    = 0.4; skew_ratio = 6*4/10; cv = sqrt(4*42-100)/10; NULL keys
    bucket together as 'NULL'."""
    import math

    from beam_spark.operators.quality import SkewProfile
    from beam_spark.pcollection import PCollection

    rows = (["a"] * 6 + ["b"] * 2 + ["c"] + ["d"])
    df = spark.createDataFrame([(k,) for k in rows], "k string")
    r = (PCollection(df) | SkewProfile("k", top_k=2)).df.collect()[0]
    assert (r["n_rows"], r["n_keys"], r["max_key_n"]) == (10, 4, 6)
    assert r["top1_share"] == 0.6
    assert r["topk_share"] == 0.8           # top_k=2 -> a+b = 8/10
    assert r["skew_ratio"] == 2.4
    assert r["gini"] == (2 * (1 * 1 + 2 * 1 + 3 * 2 + 4 * 6) - 5 * 10) / 40
    assert r["cv"] == math.sqrt(4 * 42 - 100) / 10

    withnull = spark.createDataFrame(
        [(None,), (None,), ("x",)], "k string")
    rn = (PCollection(withnull) | SkewProfile("k")).df.collect()[0]
    assert (rn["n_keys"], rn["max_key_n"]) == (2, 2)  # NULLs bucket


def test_group_fairness_known(spark):
    """Two groups: g1 has perfect recall at the threshold, g2 zero;
    ratios compare to the pooled rates; empty-denominator rates are
    NULL."""
    from beam_spark.operators.quality import GroupFairnessMetrics
    from beam_spark.pcollection import PCollection

    rows = [
        ("g1", 0.9, 1), ("g1", 0.8, 1), ("g1", 0.2, 0),
        ("g2", 0.1, 1), ("g2", 0.7, 0),
    ]
    df = spark.createDataFrame(rows, "grp string, score double, y int")
    out = {r["group"]: r for r in (PCollection(df) | GroupFairnessMetrics(
        "score", "y", "grp")).df.collect()}
    g1, g2 = out["g1"], out["g2"]
    assert (g1["tp"], g1["fp"], g1["tn"], g1["fn"]) == (2, 0, 1, 0)
    assert g1["tpr"] == 1.0 and g1["fpr"] == 0.0
    assert g2["tpr"] == 0.0 and g2["fpr"] == 1.0
    # pooled: tpr = 2/3, fpr = 1/2, ppr = 3/5
    assert g1["tpr_ratio"] == 1.0 / (2 / 3)
    assert g2["fpr_ratio"] == 1.0 / 0.5
    assert g1["ppr_ratio"] == (2 / 3) / (3 / 5)


def test_calibration_report_known(spark):
    """Two bins: scores 0.1/0.15 (bin 1, mean 0.125, 1 of 2 positive)
    and 0.95/0.95 (bin 9, both positive): per-bin gaps |0.5 - 0.125|
    and |1 - 0.95|, ECE = (2*0.375 + 2*0.05)/4; a score of exactly
    1.0 clamps into the last bin."""
    from beam_spark.operators.quality import CalibrationReport
    from beam_spark.pcollection import PCollection

    rows = [(0.1, 0), (0.15, 1), (0.95, 1), (0.95, 1), (1.0, 1)]
    df = spark.createDataFrame(rows, "score double, y int")
    out = {r["bin"]: r for r in (PCollection(df) | CalibrationReport(
        "score", "y", n_bins=10)).df.collect()}
    assert set(out) == {1, 9}
    b1 = out[1]
    assert b1["n"] == 2 and b1["mean_conf"] == 0.125
    assert b1["frac_pos"] == 0.5 and b1["abs_gap"] == 0.375
    b9 = out[9]          # 0.95, 0.95 and the clamped 1.0
    assert b9["n"] == 3 and b9["frac_pos"] == 1.0
    exp_ece = round((2 * 0.375 + 3 * abs(1.0 - b9["mean_conf"])) / 5, 6)
    assert b1["ece"] == exp_ece and b9["ece"] == exp_ece

    import pytest as pt

    with pt.raises(ValueError, match="n_bins"):
        CalibrationReport("s", "y", n_bins=0)


def test_eval_metrics_null_and_zero_norm_guards(spark):
    """Hardening: NULL score/label rows are dropped by
    BinaryClassifierMetrics and RankingMetrics instead of polluting
    rank windows; KMeansLloyd fails fast (with the count) on
    zero-norm vectors whose cosine direction is undefined."""
    import pytest as pt

    from beam_spark.operators.quality import (BinaryClassifierMetrics,
                                              RankingMetrics)
    from beam_spark.operators.similarity import KMeansLloyd
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(0.9, 1), (0.2, 0), (None, 1), (0.5, None)],
        "score double, label int")
    r = (PCollection(df) | BinaryClassifierMetrics(
        "score", "label")).df.collect()[0]
    assert r["n"] == 2 and r["auc"] == 1.0

    rdf = spark.createDataFrame(
        [(1, 10, 0.9, 1.0), (1, 11, None, 1.0), (1, 12, 0.3, None)],
        "query_id long, doc_id long, score double, rel double")
    rr = (PCollection(rdf) | RankingMetrics(k=3)).df.collect()[0]
    assert rr["n_docs"] == 1 and rr["mrr"] == 1.0

    z = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    with pt.raises(ValueError, match="1 zero-norm"):
        (PCollection(z) | KMeansLloyd(k=2)).df


def test_rbo_overlap_known(spark):
    """Hand-computed RBO@3 (p=0.5): identical rankings give
    RBO = 0.5*(1*1/1 + 0.5*2/2 + 0.25*3/3) = 0.875 (the @k ceiling);
    a reversed 3-doc ranking overlaps only at depth 3 -> RBO =
    0.5*0.25*1 = 0.125 with overlap 3 at depth 3... (reversal of 3:
    depth 3 holds all 3) = 0.5*(0.25*3/3)=0.125; disjoint top-k gives
    0."""
    from beam_spark.operators.quality import RboOverlap
    from beam_spark.pcollection import PCollection

    # q1: identical rankings; q2: exactly reversed
    rows = [
        (1, 10, 3.0, 3.0), (1, 11, 2.0, 2.0), (1, 12, 1.0, 1.0),
        (2, 20, 3.0, 1.0), (2, 21, 2.0, 2.0), (2, 22, 1.0, 3.0),
    ]
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, score_left double, "
              "score_right double")
    out = {r["query_id"]: r for r in (PCollection(df) | RboOverlap(
        k=3, p=0.5)).df.collect()}
    r1 = out[1]
    assert r1["overlap_at_k"] == 3
    assert r1["rbo"] == 0.5 * (1.0 + 0.5 * 1.0 + 0.25 * 1.0)
    # extrapolation: + (A_k/k) * p^k = + 1 * 0.125
    assert r1["rbo_ext"] == round(r1["rbo"] + 1.0 * 0.5 ** 3, 6)
    r2 = out[2]
    # reversed: depth1 {20}x{22} = 0; depth2 {20,21}x{22,21} = 1;
    # depth3 = 3
    assert r2["overlap_at_k"] == 3
    assert r2["rbo"] == round(0.5 * (0.5 * 0.5 + 0.25 * 1.0), 6)

    import pytest as pt

    with pt.raises(ValueError, match="p"):
        RboOverlap(p=1.0)


def test_reconcile_tables_known(spark):
    """Hand-built diff: key 1 unchanged, key 2 value-changed, key 3
    NULL->value change (NULL-safe), key 4 removed, key 5 added;
    per-column counts attribute the changes; missing columns raise."""
    from beam_spark.operators.scd import ReconcileTables
    from beam_spark.pcollection import PCollection

    before = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "c"), (4, 40.0, "d")],
        "id long, v double, s string")
    after = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 21.0, "b"), (3, 30.0, "c"), (5, 50.0, "e")],
        "id long, v double, s string")
    out = {(r["kind"], r["name"]): r["n"] for r in (
        PCollection(before) | ReconcileTables(after, keys="id")).df
        .collect()}
    assert out[("rows", "added")] == 1
    assert out[("rows", "removed")] == 1
    assert out[("rows", "changed")] == 2      # keys 2 and 3
    assert out[("rows", "unchanged")] == 1
    assert out[("column", "v")] == 2
    assert out[("column", "s")] == 0

    import pytest as pt

    # default columns = SHARED non-key columns (a dropped column is
    # silently excluded); naming it explicitly raises
    shared = {(r["kind"], r["name"]) for r in (
        PCollection(before) | ReconcileTables(
            after.drop("s"), keys="id")).df.collect()}
    assert ("column", "s") not in shared and ("column", "v") in shared
    with pt.raises(ValueError, match="absent"):
        (PCollection(before) | ReconcileTables(
            after.drop("s"), keys="id", columns=["v", "s"])).df


def test_quantile_transform_known(spark):
    """Mapping onto reference [10, 20, 40]: input min -> 10 (rank 0),
    median -> 20 (pos 1), max -> 40; a mid value with percent rank
    0.25 interpolates 10 + 0.5*(20-10) = 15; NULLs pass through;
    single-row reference maps everything to it."""
    from beam_spark.ml.transforms import QuantileTransform
    from beam_spark.pcollection import PCollection

    ref = spark.createDataFrame([(10.0,), (20.0,), (40.0,)], "value double")
    inp = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, 5.0), (6, None)],
        "id long, value double")
    out = {r["id"]: r["value_q"] for r in (
        PCollection(inp) | QuantileTransform(ref, "value")).df.collect()}
    # ranks over 5 non-null values: 0, .25, .5, .75, 1 -> pos 0,.5,1,1.5,2
    assert out[1] == 10.0
    assert out[2] == 15.0
    assert out[3] == 20.0
    assert out[4] == 30.0
    assert out[5] == 40.0
    assert out[6] is None

    one = spark.createDataFrame([(7.0,)], "value double")
    o2 = {r["id"]: r["value_q"] for r in (
        PCollection(inp.where("value IS NOT NULL"))
        | QuantileTransform(one, "value")).df.collect()}
    assert set(o2.values()) == {7.0}


def test_kmeans_silhouette_known(spark):
    """2-D silhouette: with unit seeds e_x/e_y, a point at 45 degrees
    has sim = sim_2nd -> silhouette 0; a point ON a seed has sim 1,
    den = 1 - sim_2nd > 0 -> silhouette 1; duplicate seeds give
    sim == sim_2nd == 1 -> denominator 0 -> NULL."""
    from beam_spark.operators.similarity import KMeansLloyd
    from beam_spark.pcollection import PCollection

    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in (PCollection(df) | KMeansLloyd(
        k=2, rounds=0, with_silhouette=True)).df.collect()}
    assert out[1]["sim"] == 1.0 and out[1]["silhouette"] == 1.0
    assert out[3]["sim"] == out[3]["sim_2nd"]
    assert out[3]["silhouette"] == 0.0

    dup = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>")
    od = (PCollection(dup) | KMeansLloyd(
        k=2, rounds=0, with_silhouette=True)).df.collect()
    assert all(r["silhouette"] is None for r in od)


def test_hilbert_key_known(spark):
    """4x4 grid at bits=2: the Hilbert walk visits all 16 cells with
    key 0..15 and EVERY consecutive pair is a grid neighbor (Manhattan
    distance 1) — the locality property Morton lacks; d=0 starts at
    (0,0); NULLs yield NULL keys."""
    from beam_spark.operators.scd import HilbertKey
    from beam_spark.pcollection import PCollection

    rows = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = {r["hilbert_key"]: (r["x"], r["y"]) for r in (
        PCollection(df) | HilbertKey(["x", "y"], bits=2)).df.collect()}
    assert sorted(out) == list(range(16))
    assert out[0] == (0, 0)
    for d in range(15):
        (x1, y1), (x2, y2) = out[d], out[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1

    withnull = spark.createDataFrame([(1, None), (2, 3)], "x long, y long")
    kn = {r["x"]: r["hilbert_key"] for r in (
        PCollection(withnull) | HilbertKey(["x", "y"], bits=4))
        .df.collect()}
    assert kn[1] is None

    import pytest as pt

    with pt.raises(ValueError, match="exactly 2"):
        HilbertKey(["x", "y", "z"])


def test_frequent_itemsets_known(spark):
    """Four baskets over {x,y,z,w}: {x,y,z} appears 3 times, w only
    once (pruned at L1 so it never enters L2/L3 joins); supports are
    exact and items ascending."""
    from beam_spark.operators.analytics import FrequentItemsets
    from beam_spark.pcollection import PCollection

    baskets = [(1, ["x", "y", "z", "w"]), (2, ["x", "y", "z"]),
               (3, ["x", "y", "z"]), (4, ["x", "y"])]
    rows = [(b, i) for b, items in baskets for i in items]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {(tuple(r["items"]), r["size"]): r["support_n"] for r in (
        PCollection(df) | FrequentItemsets(
            "item", basket_keys="basket", min_support=3)).df.collect()}
    assert out[(("x",), 1)] == 4
    assert out[(("y",), 1)] == 4
    assert out[(("z",), 1)] == 3
    assert (("w",), 1) not in out
    assert out[(("x", "y"), 2)] == 4
    assert out[(("x", "z"), 2)] == 3
    assert out[(("x", "y", "z"), 3)] == 3
    assert not [k for k in out if k[1] == 3 and k != (("x", "y", "z"), 3)]

    only2 = (PCollection(df) | FrequentItemsets(
        "item", basket_keys="basket", min_support=3,
        max_size=2)).df.collect()
    assert max(r["size"] for r in only2) == 2

    import pytest as pt

    with pt.raises(ValueError, match="max_size"):
        FrequentItemsets("item", basket_keys="b", max_size=4)


def test_recommended_salt(spark):
    """Advisor: a uniform key recommends 1 (plain join + AQE); a key
    where one value holds half the rows recommends ~skew/target; the
    cap clamps pathological skew."""
    from beam_spark.operators.join import recommended_salt

    uniform = spark.createDataFrame(
        [(i % 10,) for i in range(100)], "k long")
    assert recommended_salt(uniform, "k") == 1
    assert recommended_salt(uniform.where("k > 99"), "k") == 1  # empty

    # one key holds 91 of 100 rows over 10 keys: skew = 9.1x mean
    skewed = spark.createDataFrame(
        [(0,)] * 91 + [(i,) for i in range(1, 10)], "k long")
    assert recommended_salt(skewed, "k", target_skew=4.0) == 3
    assert recommended_salt(skewed, "k", target_skew=4.0, cap=2) == 2

    import pytest as pt

    with pt.raises(ValueError, match="target_skew"):
        recommended_salt(uniform, "k", target_skew=0.5)


def test_kmeans_farthest_seeding(spark):
    """Deterministic farthest-point seeds: seed 0 is the smallest id
    ([1,0]); the farthest vector by cosine is [-1,0] (seed 1); then
    [0,1] (cos 0 to both) beats the near-duplicates (cos ~0.9+) for
    seed 2 — so the three centroids are the three true directions,
    which first_ids seeding would NOT find (ids 1,2,3 are two
    near-duplicates plus [1,0])."""
    from beam_spark.operators.similarity import KMeansLloyd
    from beam_spark.pcollection import PCollection

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.95, 0.05]),
            (4, [-1.0, 0.0]), (5, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    km = KMeansLloyd(k=3, rounds=0, seeding="farthest")
    out = {r["vec_id"]: r["cluster"]
           for r in (PCollection(df) | km).df.collect()}
    import numpy as np

    cents = np.round(np.array(km.centroids_), 3).tolist()
    assert [1.0, 0.0] in cents and [-1.0, 0.0] in cents \
        and [0.0, 1.0] in cents
    # the x-axis bundle maps together; [-1,0] and [0,1] are alone
    assert out[1] == out[2] == out[3]
    assert len({out[1], out[4], out[5]}) == 3

    import pytest as pt

    with pt.raises(ValueError, match="seeding"):
        KMeansLloyd(k=2, seeding="random")


def test_attribution_known(spark):
    """Hand-built stream: purchase at t=100 credits the click at t=90
    (last touch) or the view at t=10 (first touch); lookback=50 drops
    the t=10 view for first-touch (NULL = direct); a purchase with no
    preceding touch is direct; same-row never self-attributes."""
    import datetime as dt

    from beam_spark.operators.analytics import Attribution
    from beam_spark.pcollection import PCollection

    def t(s):
        return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s)

    rows = [
        (1, 1, "view", t(10)), (1, 2, "click", t(90)),
        (1, 3, "purchase", t(100)),
        (2, 4, "purchase", t(5)),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp")

    def run(**kw):
        return {r["conv_event_id"]: r for r in (
            PCollection(df) | Attribution(
                conversion_if="event_type = 'purchase'",
                touch_if="event_type IN ('view', 'click')",
                **kw)).df.collect()}

    last = run(model="last_touch")
    assert last[3]["touch_event_id"] == 2
    assert last[3]["touch_event"] == "click"
    assert last[4]["touch_event_id"] is None       # direct
    first = run(model="first_touch")
    assert first[3]["touch_event_id"] == 1
    lb = run(model="first_touch", lookback=50.0)
    assert lb[3]["touch_event_id"] is None         # view too old

    import pytest as pt

    with pt.raises(ValueError, match="model"):
        Attribution("c", "t", model="linear")


def test_suggest_bands(spark):
    """LSH planner: the returned (b, r) multiply to <= num_perm and
    the S-curve midpoint is within one neighbor step of the target;
    low thresholds pick many bands (recall), high pick long rows
    (precision)."""
    from beam_spark.operators.dedupe import suggest_bands

    lo_b, lo_r = suggest_bands(0.3, 128)
    hi_b, hi_r = suggest_bands(0.9, 128)
    assert lo_b * lo_r <= 128 and hi_b * hi_r <= 128
    assert lo_b > hi_b and hi_r > lo_r
    for th, (b, r) in ((0.3, (lo_b, lo_r)), (0.9, (hi_b, hi_r))):
        mid = (1.0 / b) ** (1.0 / r)
        assert abs(mid - th) < 0.15

    import pytest as pt

    with pt.raises(ValueError, match="threshold"):
        suggest_bands(1.0)
    with pt.raises(ValueError, match="num_perm"):
        suggest_bands(0.5, 1)


def test_category_entropy_known(spark):
    """Uniform 4 categories -> H = 2 bits, norm 1; single category ->
    H = 0, norm NULL; global mode (keys=None) works; a (2,1,1)
    distribution gives H = 1.5 exactly."""
    from beam_spark.operators.quality import CategoryEntropy
    from beam_spark.pcollection import PCollection

    rows = ([(1, c) for c in "abcd"] + [(2, "a")] * 3
            + [(3, "a"), (3, "a"), (3, "b"), (3, "c")])
    df = spark.createDataFrame(rows, "k long, cat string")
    out = {r["k"]: r for r in (PCollection(df) | CategoryEntropy(
        "cat", keys="k")).df.collect()}
    assert out[1]["entropy"] == 2.0 and out[1]["entropy_norm"] == 1.0
    assert out[2]["entropy"] == 0.0 and out[2]["entropy_norm"] is None
    assert out[3]["entropy"] == 1.5   # -(1/2*-1 + 2*(1/4*-2))
    g = (PCollection(df) | CategoryEntropy("cat")).df.collect()
    assert len(g) == 1 and g[0]["n"] == 11


def test_join_cardinality_known(spark):
    """Exact pre-flight: left counts (a:2, b:1, c:1), right (a:3,
    b:1, d:5): shared keys a,b -> join_rows = 2*3 + 1*1 = 7,
    max_key_rows = 6; NULL keys excluded (they never equi-match)."""
    from beam_spark.operators.join import JoinCardinality
    from beam_spark.pcollection import PCollection

    left = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",), (None,)], "k string")
    right = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] + [("d",)] * 5, "k string")
    r = (PCollection(left) | JoinCardinality(right, on="k")) \
        .df.collect()[0]
    assert (r["left_rows"], r["right_rows"]) == (4, 9)
    assert (r["left_keys"], r["right_keys"], r["shared_keys"]) == (3, 3, 2)
    assert r["join_rows"] == 7 and r["max_key_rows"] == 6
    # ground truth: the actual join emits exactly join_rows rows
    assert left.join(right, on="k").count() == r["join_rows"]


def test_column_dependence_known(spark):
    """Hand-computed: x fully determines y (y = f(x)) -> MI = H(Y),
    U(Y|X) = 1; independent uniform pair -> MI = 0; constant y ->
    u_y_given_x NULL."""
    from beam_spark.operators.quality import ColumnDependence
    from beam_spark.pcollection import PCollection

    det = spark.createDataFrame(
        [("a", "p"), ("a", "p"), ("b", "q"), ("b", "q"),
         ("c", "p"), ("c", "p")], "x string, y string")
    r = (PCollection(det) | ColumnDependence("x", "y")).df.collect()[0]
    assert r["u_y_given_x"] == 1.0
    assert r["mi"] == r["h_y"]
    assert r["cramers_v"] == 1.0   # y = f(x): perfect association

    # 2x2 independent uniform: joint = product of marginals
    ind = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "pq"], "x string, y string")
    ri = (PCollection(ind) | ColumnDependence("x", "y")).df.collect()[0]
    assert ri["mi"] == 0.0 and ri["h_xy"] == 2.0
    assert ri["chi2"] == 0.0 and ri["cramers_v"] == 0.0

    const = spark.createDataFrame(
        [("a", "z"), ("b", "z")], "x string, y string")
    rc = (PCollection(const) | ColumnDependence("x", "y")).df.collect()[0]
    assert rc["u_y_given_x"] is None and rc["u_x_given_y"] == 0.0
    assert rc["cramers_v"] is None


def test_log_odds_terms_known(spark):
    """Class-exclusive words surface with the largest positive z in
    their class: 'alpha' only in class A, 'beta' only in B; a word
    uniform across classes scores near zero and below the exclusives;
    top_n caps rows per class."""
    from beam_spark.operators.text import LogOddsTerms
    from beam_spark.pcollection import PCollection

    rows = [("A", "alpha alpha common common"),
            ("A", "alpha common"),
            ("B", "beta beta common common"),
            ("B", "beta common")]
    df = spark.createDataFrame(rows, "lang string, text string")
    out = [(r["lang"], r["term"], r["z"]) for r in (
        PCollection(df) | LogOddsTerms(
            "text", class_col="lang", top_n=2)).df.collect()]
    by_class = {}
    for l, t, z in out:
        by_class.setdefault(l, []).append((t, z))
    a_terms = dict(by_class["A"])
    b_terms = dict(by_class["B"])
    assert max(a_terms, key=a_terms.get) == "alpha"
    assert max(b_terms, key=b_terms.get) == "beta"
    assert a_terms["alpha"] > a_terms.get("common", -99)
    assert all(len(v) <= 2 for v in by_class.values())

    import pytest as pt

    with pt.raises(ValueError, match="alpha"):
        LogOddsTerms("text", alpha=0.0)


def test_kaplan_meier_known(spark):
    """Textbook KM: durations (1e, 2c, 3e, 3e, 4c, 5e) — S(1) = 5/6,
    S(3) = 5/6 * (1 - 2/4) = 5/12, S(5) = 5/12 * (1 - 1/1) = 0 (the
    full-death pin); censored times emit no row; n_risk honors the
    ties-leave-after convention."""
    import pytest as pt

    from beam_spark.operators.stats import KaplanMeier
    from beam_spark.pcollection import PCollection

    rows = [(1.0, 1), (2.0, 0), (3.0, 1), (3.0, 1), (4.0, 0), (5.0, 1)]
    df = spark.createDataFrame(rows, "duration double, event int")
    out = {r["t"]: r for r in (PCollection(df) | KaplanMeier(
        "duration", "event")).df.collect()}
    assert sorted(out) == [1.0, 3.0, 5.0]     # event times only
    assert (out[1.0]["n_risk"], out[1.0]["d_events"]) == (6, 1)
    assert out[1.0]["survival"] == pt.approx(5 / 6, abs=1e-6)
    assert (out[3.0]["n_risk"], out[3.0]["d_events"]) == (4, 2)
    assert out[3.0]["survival"] == pt.approx(5 / 12, abs=1e-6)
    assert (out[5.0]["n_risk"], out[5.0]["d_events"]) == (1, 1)
    assert out[5.0]["survival"] == 0.0


def test_hilbert_key_highbits_null_batch(spark):
    """Regression (round-12 advice): a NULL-input row in the same
    Arrow batch must NOT corrupt high-magnitude keys via an int64 ->
    float64 coercion. At bits=28 the max key is 4^28-1 ~ 7.2e16 >
    2^53, so any float round-trip loses low bits; keys computed with
    and without a NULL row in the batch must be identical."""
    from beam_spark.operators.scd import HilbertKey
    from beam_spark.pcollection import PCollection

    big = (1 << 28) - 1
    coords = [(big, big), (big - 1, big), (123456789, 987654321)]
    clean = spark.createDataFrame(coords, "x long, y long").coalesce(1)
    # NULL row INSIDE the existing min/max of both columns so the
    # data-dependent scaling is identical across the two frames
    mixed = spark.createDataFrame(
        coords + [(None, big)], "x long, y long").coalesce(1)
    kc = {(r["x"], r["y"]): r["hilbert_key"] for r in (
        PCollection(clean) | HilbertKey(["x", "y"], bits=28)).df.collect()}
    km = {(r["x"], r["y"]): r["hilbert_key"] for r in (
        PCollection(mixed) | HilbertKey(["x", "y"], bits=28)).df.collect()}
    assert km[(None, big)] is None
    for xy in coords:
        assert km[xy] == kc[xy]
        assert km[xy] > (1 << 53)          # the regression regime


def test_mmr_rerank_zero_norm_raises(spark):
    """Regression (round-12 advice): a zero-norm candidate embedding
    must fail fast with a doc-id-naming ValueError, not an opaque
    IndexError from an all-NaN greedy loop."""
    from beam_spark.operators.retrieval import MmrRerank
    from beam_spark.pcollection import PCollection
    import pytest as pt

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>")
    cand = spark.createDataFrame(
        [(7, 1, 0.9), (7, 2, 0.8)],
        "query_id long, doc_id long, score double")
    with pt.raises(Exception, match="zero-norm"):
        (PCollection(cand) | MmrRerank(vecs, k=2, lam=0.5)).df.collect()


def test_reconcile_tables_keys_only(spark):
    """Regression (round-12 advice): frames sharing ONLY the key
    column produce a rows-only presence report (changed always 0)
    instead of an IndexError at plan build."""
    from beam_spark.operators.scd import ReconcileTables
    from beam_spark.pcollection import PCollection

    before = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    after = spark.createDataFrame([(2,), (3,), (4,)], "id long")
    out = {(r["kind"], r["name"]): r["n"] for r in (
        PCollection(before) | ReconcileTables(after, keys="id")).df
        .collect()}
    assert out[("rows", "added")] == 1
    assert out[("rows", "removed")] == 1
    assert out[("rows", "changed")] == 0
    assert out[("rows", "unchanged")] == 2
    assert not [k for k in out if k[0] == "column"]


def test_kmeans_silhouette_k1_ansi(spark):
    """Regression (round-12 advice): k=1 silhouette must yield NULL
    sim_2nd/silhouette under spark.sql.ansi.enabled=true too (bare
    element_at(-2) on a size-1 array throws there)."""
    from beam_spark.operators.similarity import KMeansLloyd
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    # conf.get(key, default) returns the DEFAULT when the key is
    # merely unset — ignoring Spark's own built-in default (true in
    # Spark 4) — so restoring that would flip ANSI off for every
    # later test (it broke the corpus dt_normalize_eq divergence
    # pin). Read the EFFECTIVE value instead.
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out = (PCollection(df) | KMeansLloyd(
            k=1, rounds=0, with_silhouette=True)).df.collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert len(out) == 2
    assert all(r["sim_2nd"] is None and r["silhouette"] is None
               for r in out)


def test_isotonic_calibration_known(spark):
    """Hand-checkable PAVA: scores 0.1..0.5 with positive rates
    [1/2, 0/2, 1/1, 1/3, 1/1] — the 0.5 vs 0.0 violation pools to
    1/4; then 1/1 vs 1/3 pools with the middle to (1+1)/(1+3)=0.5,
    final fit [0.25, 0.25, 0.5, 0.5, 1.0] nondecreasing; n/n_pos are
    the per-score exact counts."""
    from beam_spark.operators.quality import IsotonicCalibration
    from beam_spark.pcollection import PCollection

    rows = ([(0.1, 1), (0.1, 0), (0.2, 0), (0.2, 0), (0.3, 1),
             (0.4, 0), (0.4, 0), (0.4, 1), (0.5, 1)])
    df = spark.createDataFrame(rows, "score double, y int")
    out = {r["score"]: r for r in (
        PCollection(df) | IsotonicCalibration("score", "y")).df.collect()}
    assert [out[s]["calibrated"] for s in (0.1, 0.2, 0.3, 0.4, 0.5)] \
        == [0.25, 0.25, 0.5, 0.5, 1.0]
    assert (out[0.1]["n"], out[0.1]["n_pos"]) == (2, 1)
    assert (out[0.4]["n"], out[0.4]["n_pos"]) == (3, 1)


def test_isotonic_calibration_keyed_and_guard(spark):
    """Per-key fits are independent (one key perfectly calibrated,
    one anti-monotone pooling to its global rate); the max_distinct
    cap fails fast with an actionable message."""
    from beam_spark.operators.quality import IsotonicCalibration
    from beam_spark.pcollection import PCollection
    import pytest as pt

    rows = [("a", 0.1, 0), ("a", 0.9, 1),
            ("b", 0.1, 1), ("b", 0.9, 0)]
    df = spark.createDataFrame(rows, "grp string, score double, y int")
    out = {(r["grp"], r["score"]): r["calibrated"] for r in (
        PCollection(df) | IsotonicCalibration("score", "y", keys="grp"))
        .df.collect()}
    assert out[("a", 0.1)] == 0.0 and out[("a", 0.9)] == 1.0
    assert out[("b", 0.1)] == 0.5 and out[("b", 0.9)] == 0.5

    with pt.raises(Exception, match="max_distinct"):
        (PCollection(df) | IsotonicCalibration(
            "score", "y", max_distinct=1)).df.collect()


def test_zorder_rank_scale_double(spark):
    """Equi-depth rank scaling on doubles: a wild outlier (1e9) no
    longer collapses the other values into word 0 (min-max would);
    words follow data mass, keys are NULL for NULL inputs, and NaN
    fails fast."""
    from beam_spark.operators.scd import ZOrderKey, HilbertKey
    from beam_spark.pcollection import PCollection
    import pytest as pt

    rows = [(1, 0.1, 5.0), (2, 0.2, 5.0), (3, 0.3, 5.0),
            (4, 0.4, 5.0), (5, 1e9, 5.0), (6, None, 5.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = {r["id"]: r["zorder_key"] for r in (
        PCollection(df) | ZOrderKey(["x", "y"], bits=4, scale="rank"))
        .df.collect()}
    assert out[6] is None
    # y constant -> word 0; key = interleave(word_x, 0): rank words
    # for x = (r * 15) // 4 over ranks 0..4 -> 0, 3, 7, 11, 15
    def interleave(w):
        return sum(((w >> b) & 1) << (2 * b) for b in range(4))
    assert [out[i] for i in (1, 2, 3, 4, 5)] == [
        interleave(w) for w in (0, 3, 7, 11, 15)]
    # (min-max mode rejects doubles at plan time — integer scaling
    # can't floor-divide a DOUBLE; rank mode exists for exactly this)

    hk = {r["id"]: r["hilbert_key"] for r in (
        PCollection(df) | HilbertKey(["x", "y"], bits=4, scale="rank"))
        .df.collect()}
    assert hk[6] is None and len({hk[i] for i in (1, 2, 3, 4, 5)}) == 5

    nan = spark.createDataFrame(
        [(1, float("nan"), 1.0), (2, 0.5, 2.0)],
        "id long, x double, y double")
    with pt.raises(Exception, match="NaN"):
        (PCollection(nan) | ZOrderKey(["x", "y"], bits=4,
                                      scale="rank")).df.collect()
    with pt.raises(ValueError, match="scale"):
        ZOrderKey(["x", "y"], scale="quantile")


def test_silhouette_score_known(spark):
    """Hand-checkable exact silhouette: two tight orthogonal pairs —
    every point's own-cluster mean distance is ~0, cross-cluster ~1,
    so silhouette ~1; a singleton third cluster scores exactly 0 by
    convention; zero-norm vectors fail fast; with the assignment on a
    separate frame the join path gives identical results."""
    from beam_spark.operators.similarity import SilhouetteScore
    from beam_spark.pcollection import PCollection
    import pytest as pt

    rows = [(1, [1.0, 0.0, 0.0], 0), (2, [0.999, 0.01, 0.0], 0),
            (3, [0.0, 1.0, 0.0], 1), (4, [0.01, 0.999, 0.0], 1),
            (5, [0.0, 0.0, 1.0], 2)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cluster int")
    out = {r["vec_id"]: r for r in (
        PCollection(df) | SilhouetteScore()).df.collect()}
    for i in (1, 2, 3, 4):
        assert out[i]["silhouette"] > 0.95
        assert out[i]["a_mean_dist"] < 0.01
    assert out[5]["silhouette"] == 0.0
    assert out[5]["a_mean_dist"] is None        # singleton: no a

    # join path: same data, assignment on a second frame
    vecs = df.select("vec_id", "embedding")
    asg = df.select("vec_id", "cluster")
    out2 = {r["vec_id"]: r["silhouette"] for r in (
        PCollection(vecs) | SilhouetteScore(asg)).df.collect()}
    assert out2 == {i: out[i]["silhouette"] for i in out}

    # single cluster -> b undefined -> NULL silhouette
    one = df.withColumn("cluster", df.cluster * 0)
    o1 = (PCollection(one) | SilhouetteScore()).df.collect()
    assert all(r["silhouette"] is None for r in o1)

    zn = spark.createDataFrame(
        [(1, [0.0, 0.0], 0), (2, [1.0, 0.0], 1)],
        "vec_id long, embedding array<double>, cluster int")
    with pt.raises(ValueError, match="zero-norm"):
        (PCollection(zn) | SilhouetteScore()).df.collect()


def test_hits_known_graph(spark):
    """Hand-checkable HITS on a tiny hub/authority structure: node 1
    points at both authorities (3, 4); node 2 points only at 3. After
    any number of L1 rounds node 1 is the stronger hub and node 3 the
    stronger authority; pure-sink/source nodes get zero hub/authority
    respectively; scores sum to 1 per side."""
    from beam_spark.operators.graph import Hits
    from beam_spark.pcollection import PCollection
    import pytest as pt

    edges = spark.createDataFrame(
        [(1, 3), (1, 4), (2, 3)], "src long, dst long")
    out = {r["node"]: r for r in (
        PCollection(edges) | Hits(iterations=3)).df.collect()}
    assert out[1]["hub"] > out[2]["hub"] > 0
    assert out[3]["authority"] > out[4]["authority"] > 0
    assert out[3]["hub"] == 0.0 and out[4]["hub"] == 0.0
    assert out[1]["authority"] == 0.0 and out[2]["authority"] == 0.0
    assert abs(sum(r["hub"] for r in out.values()) - 1.0) < 1e-6
    assert abs(sum(r["authority"] for r in out.values()) - 1.0) < 1e-6

    with pt.raises(ValueError, match="iterations"):
        Hits(iterations=0)


def test_merge_into_semantics(spark):
    """Row-level MERGE semantics, hand-built: key 1 updated, key 2
    kept (condition false), key 3 deleted under when_matched='delete',
    key 9 inserted (target-only column NULL), key 4 target-only kept;
    a duplicate-source-key fails fast; when_matched=None keeps target
    values."""
    from beam_spark.operators.scd import MergeInto
    from beam_spark.pcollection import PCollection
    import pytest as pt

    t = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"),
         (4, 40.0, "d")],
        "id long, v double, extra string")
    s = spark.createDataFrame(
        [(1, 11.0), (2, 5.0), (3, 33.0), (9, 90.0)],
        "id long, v double")

    out = {r["id"]: r for r in (PCollection(t) | MergeInto(
        s, keys="id", match_condition="s.v > t.v")).df.collect()}
    assert out[1]["v"] == 11.0 and out[1]["extra"] == "a"
    assert out[2]["v"] == 20.0                  # condition false
    assert out[3]["v"] == 33.0
    assert out[4]["v"] == 40.0                  # target-only
    assert out[9]["v"] == 90.0 and out[9]["extra"] is None

    dele = {r["id"]: r for r in (PCollection(t) | MergeInto(
        s, keys="id", when_matched="delete",
        when_not_matched=None)).df.collect()}
    assert sorted(dele) == [4]

    noop = {r["id"]: r["v"] for r in (PCollection(t) | MergeInto(
        s, keys="id", when_matched=None,
        when_not_matched="insert")).df.collect()}
    assert noop[1] == 10.0 and noop[9] == 90.0

    dup = spark.createDataFrame([(1, 1.0), (1, 2.0)],
                                "id long, v double")
    # the duplicate-key guard is folded into the merge plan (round
    # 13): it surfaces at ACTION time from within the merge job
    with pt.raises(Exception, match="multiple rows"):
        (PCollection(t) | MergeInto(dup, keys="id")).df.collect()
    with pt.raises(ValueError, match="when_matched"):
        MergeInto(s, keys="id", when_matched="upsert")


def test_merge_into_validate_fires_for_dropped_rows(spark):
    """Round-14 ADVICE regression: the dup-key assert lives on the
    SOURCE-side presence marker, so it fires even in configs whose
    keep filter DROPS the duplicated rows — when_matched='delete'
    removes matched rows, and when_matched=None/when_not_matched=None
    keeps nothing from the source; an assert conjoined into `keep`
    would be And-short-circuited for exactly those rows."""
    import pytest as pt

    from beam_spark.operators.scd import MergeInto
    from beam_spark.pcollection import PCollection

    t = spark.createDataFrame([(1, 10.0), (2, 20.0)],
                              "id long, v double")
    dup = spark.createDataFrame([(1, 1.0), (1, 2.0)],
                                "id long, v double")
    with pt.raises(Exception, match="multiple rows"):
        (PCollection(t) | MergeInto(
            dup, keys="id", when_matched="delete",
            when_not_matched=None)).df.collect()
    with pt.raises(Exception, match="multiple rows"):
        (PCollection(t) | MergeInto(
            dup, keys="id", when_matched=None,
            when_not_matched=None)).df.collect()
    # and an unmatched duplicate (key absent from target) under
    # insert=None is equally dropped — still must raise
    dup9 = spark.createDataFrame([(9, 1.0), (9, 2.0)],
                                 "id long, v double")
    with pt.raises(Exception, match="multiple rows"):
        (PCollection(t) | MergeInto(
            dup9, keys="id", when_not_matched=None)).df.collect()


def test_kmv_overlap_exact_and_estimate(spark):
    """Below k the sketch IS the exact answer: two 6/4-element sets
    sharing 2 values report exact sizes, union, intersection and
    jaccard. Above k (k=16 on 200/100-element sets sharing 50) the
    estimates land within the ~3.5/sqrt(k-1) relative envelope."""
    from beam_spark.operators.stats import KmvOverlap
    from beam_spark.pcollection import PCollection
    import pytest as pt

    a = spark.createDataFrame([(i,) for i in range(6)], "v long")
    b = spark.createDataFrame([(i,) for i in range(4, 8)], "v long")
    r = (PCollection(a) | KmvOverlap(b, "v", k=64)).df.first()
    assert (r["est_a"], r["est_b"]) == (6.0, 4.0)
    assert r["est_union"] == 8.0 and r["est_intersection"] == 2.0
    assert r["jaccard_est"] == 0.25

    # estimate path: outputs are PURE FUNCTIONS of the value set, so
    # pin them against an in-test hashlib replay of the sketch (a
    # statistical envelope would be flaky — this fixed md5 draw is a
    # correlated ~3-sigma high outlier at small k)
    import hashlib

    def h60(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    def kmv_est(vals, k=16):
        hs = sorted(h60(v) for v in set(vals))
        if len(hs) < k:
            return float(len(hs))
        return round((k - 1) / (hs[k - 1] / 2 ** 60), 6)

    big_a = spark.createDataFrame([(i,) for i in range(200)], "v long")
    big_b = spark.createDataFrame([(i,) for i in range(150, 250)],
                                  "v long")
    r2 = (PCollection(big_a) | KmvOverlap(big_b, "v", k=16)).df.first()
    assert r2["est_a"] == kmv_est(range(200))
    assert r2["est_b"] == kmv_est(range(150, 250))
    assert r2["est_union"] == kmv_est(range(250))

    with pt.raises(ValueError, match="k"):
        KmvOverlap(b, "v", k=1)


def test_canonicalize_clusters_known(spark):
    """Survivorship rules, hand-built: cluster 10 keeps the longest
    text (tie broken to the smaller id), min_id mode keeps the
    smallest id regardless of text, and a record absent from the
    assignment is its own singleton cluster."""
    from beam_spark.operators.dedupe import CanonicalizeClusters
    from beam_spark.pcollection import PCollection
    import pytest as pt

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "bbbbbb"), (3, "cccccc"), (7, "solo")],
        "doc_id long, text string")
    asg = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10)], "node long, comp long")

    lt = {r["doc_id"]: r for r in (PCollection(docs)
          | CanonicalizeClusters(asg, prefer="longest_text"))
          .df.collect()}
    assert lt[1]["canonical_id"] == 2          # longest, tie -> min id
    assert lt[2]["is_canonical"] and not lt[3]["is_canonical"]
    assert lt[1]["cluster_size"] == 3
    assert lt[7]["cluster"] == 7 and lt[7]["is_canonical"]
    assert lt[7]["cluster_size"] == 1

    mi = {r["doc_id"]: r["canonical_id"] for r in (PCollection(docs)
          | CanonicalizeClusters(asg)).df.collect()}
    assert mi[3] == 1 and mi[7] == 7

    with pt.raises(ValueError, match="prefer"):
        CanonicalizeClusters(asg, prefer="newest")


def test_merge_into_not_matched_by_source(spark):
    """Delta's third clause: when_not_matched_by_source='delete'
    drops target keys absent from the source (full-mirror sync),
    while condition-failed key matches survive — key-level semantics,
    exactly Delta's."""
    from beam_spark.operators.scd import MergeInto
    from beam_spark.pcollection import PCollection

    t = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (4, 40.0)], "id long, v double")
    s = spark.createDataFrame(
        [(1, 11.0), (2, 5.0), (9, 90.0)], "id long, v double")
    out = {r["id"]: r["v"] for r in (PCollection(t) | MergeInto(
        s, keys="id", match_condition="s.v > t.v",
        when_not_matched_by_source="delete")).df.collect()}
    assert out == {1: 11.0,    # matched, condition true -> updated
                   2: 20.0,    # key-matched, condition false -> kept
                   9: 90.0}    # inserted; key 4 mirror-deleted

    import pytest as pt

    with pt.raises(ValueError, match="by_source"):
        MergeInto(s, keys="id", when_not_matched_by_source="insert")


def test_link_prediction_known_graph(spark):
    """Hand-checked square-with-diagonal: nodes 1-2-3-4 in a cycle plus
    edge (1, 3). Non-adjacent distance-2 pair is only (2, 4) — deg 2
    each, shared neighbors {1, 3} of deg 3: cn=2, jaccard=2/(2+2-2)=1,
    AA=2/ln(3), RA=2/3, PA=4."""
    import math

    from beam_spark.operators.graph import LinkPrediction
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "src int, dst int")
    rows = (PCollection(df) | LinkPrediction()).df.collect()
    by_pair = {(r.a, r.b): r for r in rows}
    assert (2, 4) in by_pair
    r = by_pair[(2, 4)]
    assert r.common_neighbors == 2
    assert r.jaccard == 1.0
    assert abs(r.adamic_adar - 2 / math.log(3)) < 1e-8
    assert abs(r.resource_alloc - 2 / 3) < 1e-8
    assert r.pref_attachment == 4
    # no existing edge ever appears as a candidate
    edges = {(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)}
    assert all((a, b) not in edges for (a, b) in by_pair)


def test_link_prediction_degree_cap_and_validation(spark):
    """A star hub (degree 5) mediates all C(5,2)=10 leaf pairs;
    max_neighbor_degree=4 drops the hub as a wedge center so no pair
    survives. Constructor validation fails fast."""
    import pytest

    from beam_spark.operators.graph import LinkPrediction
    from beam_spark.pcollection import PCollection

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src int, dst int")
    full = (PCollection(star) | LinkPrediction()).df
    assert full.count() == 10
    capped = (PCollection(star)
              | LinkPrediction(max_neighbor_degree=4)).df
    assert capped.count() == 0
    with pytest.raises(ValueError):
        LinkPrediction(min_common=0)
    with pytest.raises(ValueError):
        LinkPrediction(max_neighbor_degree=1)


def test_k_anonymity_groups_and_report(spark):
    """Hand-checked: classes (a: 3 rows, 2 sensitive), (b: 1 row).
    k=2 report: k_anonymity=1, 1 class / 1 row below k, l_diversity=1.
    groups mode flags b; NULL sensitive values don't count toward l."""
    import pytest

    from beam_spark.operators.quality import KAnonymity
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("a", None), ("b", "z")],
        "q string, s string")
    rep = (PCollection(df)
           | KAnonymity("q", sensitive="s", k=2)).df.collect()[0]
    assert (rep.n_rows, rep.n_classes, rep.k_anonymity) == (4, 2, 1)
    assert (rep.classes_below_k, rep.rows_below_k) == (1, 1)
    assert rep.pct_rows_below_k == 0.25
    assert rep.l_diversity == 1
    groups = {r.q: r for r in
              (PCollection(df)
               | KAnonymity("q", sensitive="s", k=2,
                            mode="groups")).df.collect()}
    assert groups["a"].class_size == 3
    assert groups["a"].distinct_sensitive == 2
    assert groups["a"].meets_k is True
    assert groups["b"].meets_k is False
    with pytest.raises(ValueError):
        KAnonymity([])
    with pytest.raises(ValueError):
        KAnonymity("q", k=0)
    with pytest.raises(ValueError):
        KAnonymity("q", mode="bogus")


def test_linear_fit_known_values_and_degenerate(spark):
    """Exact line y = 2x + 1 recovers slope 2 / intercept 1 / r2 1;
    constant-x key yields NULL slope/intercept/r2; constant-y key
    yields slope 0 and NULL r2; NULL rows are excluded from n."""
    from beam_spark.operators.stats import LinearFit
    from beam_spark.pcollection import PCollection

    rows = ([("line", float(x), 2.0 * x + 1.0) for x in range(1, 6)]
            + [("constx", 3.0, 1.0), ("constx", 3.0, 5.0)]
            + [("consty", 1.0, 7.0), ("consty", 2.0, 7.0)]
            + [("line", None, 9.0), ("line", 4.0, None)])
    df = spark.createDataFrame(rows, "k string, x double, y double")
    out = {r.k: r for r in
           (PCollection(df)
            | LinearFit("x", "y", keys="k")).df.collect()}
    line = out["line"]
    assert line.n == 5
    assert line.slope == 2.0 and line.intercept == 1.0
    assert line.r2 == 1.0
    cx = out["constx"]
    assert cx.slope is None and cx.intercept is None and cx.r2 is None
    cy = out["consty"]
    assert cy.slope == 0.0 and cy.intercept == 7.0 and cy.r2 is None


def test_mannwhitney_u_against_scipy_formulas(spark):
    """Hand-checked vs the textbook example (ties included): A =
    [1, 2, 2, 5], B = [2, 3, 4]. Midranks: 1->1; 2->3 (ties 2,2,2);
    5->7; 3->5; 4->6. Ra = 1+3+3+7 = 14, Ua = 14 - 4*5/2 = 4,
    Ub = 12 - 4 = 8, auc = 4/12. Tie term: t=3 -> 24.
    sigma2 = 12/12 * (8 - 24/42) = 7.428571..., z = (4-6)/sqrt(...).
    Also: per-key mode + all-tied key gives NULL z."""
    import math

    from beam_spark.operators.quality import MannWhitneyU
    from beam_spark.pcollection import PCollection

    rows = ([("k1", "A", x) for x in (1.0, 2.0, 2.0, 5.0)]
            + [("k1", "B", x) for x in (2.0, 3.0, 4.0)]
            + [("k2", "A", 7.0), ("k2", "B", 7.0)])
    df = spark.createDataFrame(rows, "k string, g string, v double")
    out = {r.k: r for r in
           (PCollection(df)
            | MannWhitneyU("v", "g", "A", keys="k")).df.collect()}
    r = out["k1"]
    assert (r.na, r.nb) == (4, 3)
    assert r.u_a == 4.0 and r.u_b == 8.0
    assert abs(r.auc_a - 4.0 / 12.0) < 1e-9
    sig2 = 12.0 / 12.0 * (8.0 - 24.0 / 42.0)
    assert abs(r.z - (4.0 - 6.0) / math.sqrt(sig2)) < 1e-9
    tied = out["k2"]
    assert tied.z is None            # zero variance: both values tied
    assert tied.u_a == 0.5 and tied.auc_a == 0.5


def test_rfm_segmentation_modes(spark):
    """10 entities with monotone recency/frequency/monetary: entity i
    has i events, most recent at day i (as_of day 11), amount 10*i.
    Exact mode: all three scores agree (2 entities per quintile);
    entity 10 is champions, entity 1 hibernating. Approx mode returns
    scores in 1..5 with the same monotone ordering."""
    import datetime

    from beam_spark.operators.analytics import RfmSegmentation
    from beam_spark.pcollection import PCollection

    rows = []
    for i in range(1, 11):
        for j in range(i):
            rows.append((i, datetime.datetime(2024, 1, min(i, 28),
                                              12, 0, 0)
                         - datetime.timedelta(hours=j), 10.0 * i))
    df = spark.createDataFrame(rows, "e long, t timestamp, a double")
    out = {r.entity: r for r in
           (PCollection(df)
            | RfmSegmentation("e", "t", "a", as_of="2024-02-01")
            ).df.collect()}
    assert len(out) == 10
    assert out[10].r_score == 5 and out[10].f_score == 5
    assert out[10].m_score == 5 and out[10].segment == "champions"
    assert out[10].rfm_cell == 555
    assert out[1].segment == "hibernating"
    assert out[1].frequency == 1 and float(out[1].monetary) == 10.0
    assert out[10].recency_days == (datetime.date(2024, 2, 1)
                                    - datetime.date(2024, 1, 10)).days
    approx = {r.entity: r for r in
              (PCollection(df)
               | RfmSegmentation("e", "t", "a", as_of="2024-02-01",
                                 exact=False)).df.collect()}
    scores = [approx[i].f_score for i in range(1, 11)]
    assert all(1 <= s <= 5 for s in scores)
    assert scores == sorted(scores)
    import pytest
    with pytest.raises(ValueError):
        RfmSegmentation("e", "t", "a", n_bins=1)


def test_kmv_overlap_matrix_exact_below_k(spark):
    """Three groups with known sets: A = 1..10, B = 6..15 (|A&B| = 5),
    C = 100..104 (disjoint). Below k everything is exact: est_* equal
    true cardinalities, jaccard exact; pair count = C(3,2) = 3 and
    group_a < group_b holds."""
    from beam_spark.operators.stats import KmvOverlapMatrix
    from beam_spark.pcollection import PCollection

    rows = ([("A", i) for i in range(1, 11)]
            + [("B", i) for i in range(6, 16)]
            + [("C", i) for i in range(100, 105)]
            + [("A", 1), ("B", 6)])          # dupes are deduped
    df = spark.createDataFrame(rows, "g string, v long")
    out = {(r.group_a, r.group_b): r for r in
           (PCollection(df) | KmvOverlapMatrix("v", "g", k=64))
           .df.collect()}
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = out[("A", "B")]
    assert (ab.est_a, ab.est_b) == (10.0, 10.0)
    assert ab.est_union == 15.0 and ab.est_intersection == 5.0
    assert abs(ab.jaccard_est - 5.0 / 15.0) < 1e-6
    ac = out[("A", "C")]
    assert ac.est_intersection == 0.0 and ac.jaccard_est == 0.0
    import pytest
    with pytest.raises(ValueError):
        KmvOverlapMatrix("v", "g", k=1)


def test_pca_project_known_plane_and_whiten(spark):
    """Data on a known 2D plane in 4D: x = a*u + b*v with u, v
    orthonormal axes e0, e1 and var(a) >> var(b). PCA(k=2) must
    recover components ±e0, ±e1 (sign-normalized positive), explained
    variance ratios summing to 1, and projections equal to the
    centered (a, b). Whitened output has unit sample variance per
    coordinate. k > dim and empty input fail fast."""
    import numpy as np
    import pytest

    from beam_spark.operators.similarity import PcaProject
    from beam_spark.pcollection import PCollection

    # a and b chosen zero-mean AND uncorrelated (sum a_i*b_i = 0) so
    # the principal axes are exactly e0, e1
    rng = [(-3.0, 1.0), (-1.0, -1.0), (1.0, -1.0), (3.0, 1.0),
           (2.0, 0.0), (-2.0, 0.0)]
    rows = [(i, [a, b, 0.0, 0.0]) for i, (a, b) in enumerate(rng)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    t = PcaProject(k=2)
    out = (PCollection(df) | t).df.collect()
    got = {r.vec_id: np.array(r.pca) for r in out}
    a_mean = np.mean([a for a, _ in rng])
    b_mean = np.mean([b for _, b in rng])
    for i, (a, b) in enumerate(rng):
        assert np.allclose(got[i], [a - a_mean, b - b_mean], atol=1e-9), i
    assert abs(sum(t.explained_variance_ratio_) - 1.0) < 1e-9
    assert t.explained_variance_[0] > t.explained_variance_[1]
    # whiten: unit variance per output coordinate
    tw = PcaProject(k=2, whiten=True)
    outw = (PCollection(df) | tw).df.collect()
    Y = np.stack([np.array(r.pca) for r in outw])
    assert np.allclose(Y.var(axis=0, ddof=1), 1.0, atol=1e-6)
    with pytest.raises(ValueError):
        (PCollection(df) | PcaProject(k=5)).df.collect()
    with pytest.raises(ValueError):
        PcaProject(k=0)
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        (PCollection(empty) | PcaProject(k=1)).df.collect()


def test_covariance_matrix_exact_small(spark):
    """2D hand-checked covariance: x = [1,2,3], y = [2,4,7] ->
    var(x) = 1, var(y) = 6.333..., cov(x,y) = 2.5, symmetric, and a
    NULL vector row is dropped."""
    from beam_spark.operators.similarity import CovarianceMatrix
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [([1.0, 2.0],), ([2.0, 4.0],), ([3.0, 7.0],), (None,)],
        "embedding array<double>")
    cells = {(r.i, r.j): r.cov for r in
             (PCollection(df) | CovarianceMatrix()).df.collect()}
    assert abs(cells[(0, 0)] - 1.0) < 1e-12
    assert abs(cells[(1, 1)] - 19.0 / 3.0) < 1e-12
    assert abs(cells[(0, 1)] - 2.5) < 1e-12
    assert cells[(0, 1)] == cells[(1, 0)]
    assert len(cells) == 4


def test_multiple_test_correction_statsmodels_example(spark):
    """Textbook example p = [0.01, 0.04, 0.03, 0.005] (m=4), verified
    against statsmodels.multipletests by hand:
    bonferroni [0.04, 0.16, 0.12, 0.02];
    holm {0.005: 0.02, 0.01: 0.03, 0.03: 0.06, 0.04: 0.06};
    bh {0.005: 0.02, 0.01: 0.02, 0.03: 0.04, 0.04: 0.04}.
    Keys scope the family per group; invalid args fail fast."""
    import pytest

    from beam_spark.operators.quality import MultipleTestCorrection
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(1, 0.01), (2, 0.04), (3, 0.03), (4, 0.005)],
        "test_id int, p double")
    out = {r.test_id: r for r in
           (PCollection(df)
            | MultipleTestCorrection(
                "p", methods=("bonferroni", "holm", "bh"),
                tie_break="test_id")).df.collect()}
    assert [out[i].p_bonferroni for i in (1, 2, 3, 4)] \
        == [0.04, 0.16, 0.12, 0.02]
    assert [out[i].p_holm for i in (1, 2, 3, 4)] \
        == [0.03, 0.06, 0.06, 0.02]
    assert [out[i].p_bh for i in (1, 2, 3, 4)] \
        == [0.02, 0.04, 0.04, 0.02]
    assert all(out[i].reject_bh for i in (1, 2, 3, 4))  # all q <= 0.05
    assert not out[2].reject_bonferroni                 # 0.16 > 0.05
    assert not out[3].reject_holm                       # 0.06 > 0.05
    with pytest.raises(ValueError):
        MultipleTestCorrection("p", methods=("bogus",))
    with pytest.raises(ValueError):
        MultipleTestCorrection("p", alpha=0.0)
    # per-key families: each key of size 2 has m=2
    df2 = spark.createDataFrame(
        [("a", 1, 0.01), ("a", 2, 0.03), ("b", 3, 0.02)],
        "k string, test_id int, p double")
    per = {r.test_id: r for r in
           (PCollection(df2)
            | MultipleTestCorrection("p", methods="bonferroni",
                                     keys="k")).df.collect()}
    assert per[1].p_bonferroni == 0.02
    assert per[3].p_bonferroni == 0.02


def test_textrank_hub_wins_and_mass_sums_to_one(spark):
    """Corpus where 'spark' co-occurs with everything (hub) and other
    terms only with 'spark': the hub gets the top score; scores sum
    to ~1; min_token_len drops 1-char tokens."""
    from beam_spark.operators.text import TextRank
    from beam_spark.pcollection import PCollection

    docs = [("spark engine",), ("spark shuffle",), ("spark join",),
            ("spark engine",), ("spark shuffle",), ("spark join",),
            ("a spark b",)]
    df = spark.createDataFrame(docs, "text string")
    out = (PCollection(df)
           | TextRank("text", min_count=2, iterations=3)).df.collect()
    scores = {r.node: r.pr for r in out}
    assert set(scores) == {"spark", "engine", "shuffle", "join"}
    assert max(scores, key=scores.get) == "spark"
    assert abs(sum(scores.values()) - 1.0) < 1e-6


def test_welch_ttest_vs_scipy_values(spark):
    """Hand-verified vs scipy.stats.ttest_ind(equal_var=False) on
    A = [1, 2, 3, 4], B = [2, 4, 6]: means 2.5 / 4, va = 5/3, vb = 4,
    se2 = 5/12 + 4/3 = 1.75, t = -1.5/sqrt(1.75) = -1.13389...,
    df = 1.75^2 / ((5/12)^2/3 + (4/3)^2/2) = 3.2414...; singleton
    group and constant-both-groups give NULL t."""
    import math

    from beam_spark.operators.quality import TwoSampleTTest
    from beam_spark.pcollection import PCollection

    rows = ([("k", "A", float(x)) for x in (1, 2, 3, 4)]
            + [("k", "B", float(x)) for x in (2, 4, 6)]
            + [("one", "A", 1.0), ("one", "B", 2.0), ("one", "B", 3.0)]
            + [("const", "A", 5.0), ("const", "A", 5.0),
               ("const", "B", 5.0), ("const", "B", 5.0)])
    df = spark.createDataFrame(rows, "k string, g string, v double")
    out = {r.k: r for r in
           (PCollection(df)
            | TwoSampleTTest("v", "g", "A", keys="k")).df.collect()}
    r = out["k"]
    assert (r.na, r.nb) == (4, 3)
    assert r.mean_a == 2.5 and r.mean_b == 4.0 and r.mean_diff == -1.5
    se2 = 5.0 / 12.0 + 4.0 / 3.0
    assert abs(r.t - (-1.5 / math.sqrt(se2))) < 1e-9
    dff = se2 ** 2 / ((5.0 / 12.0) ** 2 / 3.0 + (4.0 / 3.0) ** 2 / 2.0)
    assert abs(r.df - dff) < 1e-8
    sp2 = (3 * 5.0 / 3.0 + 2 * 4.0) / 5.0
    assert abs(r.cohens_d - (-1.5 / math.sqrt(sp2))) < 1e-9
    assert out["one"].t is None          # na = 1: no variance
    assert out["const"].t is None        # zero variance both sides
    assert out["const"].mean_diff == 0.0


def test_mahalanobis_outliers_correlated_cloud(spark):
    """Correlated 2D cloud (x, ~x) plus one anti-correlated point:
    the anti-correlated point has the (by far) largest Mahalanobis
    distance even though its coordinates are in range; threshold
    flags exactly it; n <= d and singular covariance fail fast."""
    import pytest

    from beam_spark.operators.quality import MahalanobisOutliers
    from beam_spark.pcollection import PCollection

    pts = [(i, [float(x), float(x) + dx]) for i, (x, dx) in enumerate(
        [(-2, 0.1), (-1, -0.1), (0, 0.05), (1, -0.05), (2, 0.1),
         (-1.5, -0.02), (1.5, 0.02), (0.5, 0.08), (-0.5, -0.08)])]
    pts.append((99, [1.5, -1.5]))      # breaks the correlation
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.mahalanobis_sq for r in
           (PCollection(df) | MahalanobisOutliers()).df.collect()}
    assert max(out, key=out.get) == 99
    assert out[99] > 3 * max(v for k, v in out.items() if k != 99)
    flagged = {r.vec_id: r.is_outlier for r in
               (PCollection(df)
                | MahalanobisOutliers(threshold=out[99] - 1.0))
               .df.collect()}
    assert flagged[99] is True
    assert sum(flagged.values()) == 1
    few = spark.createDataFrame(pts[:2], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        (PCollection(few) | MahalanobisOutliers()).df.collect()
    # rank-deficient: second coord == first -> singular
    sing = spark.createDataFrame(
        [(i, [float(i), float(i)]) for i in range(10)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        (PCollection(sing) | MahalanobisOutliers()).df.collect()


def test_lag_features_known_series(spark):
    """Series 1..6 on one key: lag columns shift, trailing window
    (W=3) excludes the current row (no leakage): at t=4 roll_mean_3 =
    mean(1,2,3) = 2, roll_std_3 = 1; first row has NULL lags/rolls;
    pct_change = (v - lag1)/lag1; validation fails fast."""
    import pytest

    from beam_spark.operators.stats import LagFeatures
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [("a", t, float(t)) for t in range(1, 7)],
        "k string, t int, v double")
    out = {r.t: r for r in
           (PCollection(df)
            | LagFeatures("v", "t", keys="k", lags=2, window=3)
            ).df.collect()}
    assert out[1].lag_1 is None and out[1].roll_mean_3 is None
    assert out[4].lag_1 == 3.0 and out[4].lag_2 == 2.0
    assert out[4].roll_mean_3 == 2.0          # mean(1,2,3), not incl 4
    assert out[4].roll_std_3 == 1.0
    assert out[2].roll_mean_3 == 1.0 and out[2].roll_std_3 is None
    assert out[5].delta == 1.0
    assert abs(out[5].pct_change - 0.25) < 1e-12
    with pytest.raises(ValueError):
        LagFeatures("v", "t", lags=0)
    with pytest.raises(ValueError):
        LagFeatures("v", "t", window=1)


def test_concentration_report_known_distributions(spark):
    """Uniform [5,5,5,5] -> gini 0, hhi 0.25, top 0.25; one-holder
    [0,0,0,12] -> gini 0.75 ((n-1)/n), hhi 1, top 1; negative rows
    are excluded but counted."""
    from beam_spark.operators.quality import ConcentrationReport
    from beam_spark.pcollection import PCollection

    rows = ([("u", 5.0)] * 4 + [("o", 0.0)] * 3 + [("o", 12.0)]
            + [("u", -1.0)])
    df = spark.createDataFrame(rows, "k string, x double")
    out = {r.k: r for r in
           (PCollection(df)
            | ConcentrationReport("x", keys="k")).df.collect()}
    u = out["u"]
    assert (u.n, u.n_negative, u.total) == (4, 1, 20.0)
    assert u.gini == 0.0 and u.hhi == 0.25 and u.top_share == 0.25
    o = out["o"]
    assert o.gini == 0.75 and o.hhi == 1.0 and o.top_share == 1.0


def test_one_way_anova_textbook(spark):
    """Three groups [1,2,3], [2,3,4], [5,6,7]: grand mean 33/9,
    SSB = 3*((2-11/3)^2 + (3-11/3)^2 + (6-11/3)^2) = 26, SSW = 6,
    F = (26/2)/(6/6) = 13, eta^2 = 26/32. Single-group key -> NULL F."""
    from beam_spark.operators.quality import OneWayAnova
    from beam_spark.pcollection import PCollection

    rows = ([("m", "g1", float(x)) for x in (1, 2, 3)]
            + [("m", "g2", float(x)) for x in (2, 3, 4)]
            + [("m", "g3", float(x)) for x in (5, 6, 7)]
            + [("solo", "g1", 1.0), ("solo", "g1", 2.0)])
    df = spark.createDataFrame(rows, "k string, g string, v double")
    out = {r.k: r for r in
           (PCollection(df)
            | OneWayAnova("v", "g", keys="k")).df.collect()}
    m = out["m"]
    assert (m.n, m.n_groups, m.df_between, m.df_within) == (9, 3, 2, 6)
    assert abs(m.f_stat - 13.0) < 1e-9
    assert abs(m.eta_sq - 26.0 / 32.0) < 1e-9
    assert out["solo"].f_stat is None


def test_proportions_ztest_and_srm(spark):
    """A: 60/100 success, B: 40/100: pooled p = 0.5,
    se = sqrt(0.25 * 0.02) -> z = 0.2/sqrt(0.005) = 2.8284...;
    balanced split -> srm_chi2 = 0. A 150/50 split against 0.5 ->
    chi2 = 50. ratio_a validation fails fast."""
    import math

    import pytest

    from beam_spark.operators.quality import ProportionsZTest
    from beam_spark.pcollection import PCollection

    rows = ([("A", True)] * 60 + [("A", False)] * 40
            + [("B", True)] * 40 + [("B", False)] * 60)
    df = spark.createDataFrame(rows, "g string, s boolean")
    r = (PCollection(df)
         | ProportionsZTest("s", "g", "A")).df.collect()[0]
    assert (r.n_a, r.n_b, r.pos_a, r.pos_b) == (100, 100, 60, 40)
    assert abs(r.z - 0.2 / math.sqrt(0.005)) < 1e-9
    assert r.srm_chi2 == 0.0
    rows2 = [("A", True)] * 150 + [("B", True)] * 50
    df2 = spark.createDataFrame(rows2, "g string, s boolean")
    r2 = (PCollection(df2)
          | ProportionsZTest("s", "g", "A")).df.collect()[0]
    assert r2.srm_chi2 == 50.0
    assert r2.z is None                 # pooled p = 1 -> zero variance
    with pytest.raises(ValueError):
        ProportionsZTest("s", "g", "A", ratio_a=1.0)


def test_rfm_default_as_of_uses_corpus_max(spark):
    """as_of=None anchors recency at the corpus max activity date:
    the most recent entity gets recency_days 0."""
    import datetime

    from beam_spark.operators.analytics import RfmSegmentation
    from beam_spark.pcollection import PCollection

    rows = [(1, datetime.datetime(2024, 1, 1), 5.0),
            (2, datetime.datetime(2024, 1, 11), 5.0),
            (3, datetime.datetime(2024, 1, 21), 5.0)]
    df = spark.createDataFrame(rows, "e long, t timestamp, a double")
    out = {r.entity: r for r in
           (PCollection(df)
            | RfmSegmentation("e", "t", "a", n_bins=3)).df.collect()}
    assert out[3].recency_days == 0
    assert out[1].recency_days == 20


def test_cross_correlation_shifted_series(spark):
    """y is x shifted forward by 2 periods (y_t = x_{t-2}): the
    cross-correlation peaks (r = 1) at lag +2 (x leads y), not at 0;
    constant series gives NULL r; max_lag validation fails fast."""
    import math

    import pytest

    from beam_spark.operators.stats import CrossCorrelation
    from beam_spark.pcollection import PCollection

    xs = [1.0, 3.0, 2.0, 5.0, 4.0, 7.0, 6.0, 9.0, 8.0, 11.0]
    rows = [("a", t, xs[t], xs[t - 2] if t >= 2 else None)
            for t in range(len(xs))]
    rows += [("const", t, 5.0, 5.0) for t in range(6)]
    df = spark.createDataFrame(rows, "k string, t int, x double, y double")
    out = {(r.k, r.lag): r for r in
           (PCollection(df)
            | CrossCorrelation("x", "y", "t", keys="k", max_lag=3)
            ).df.collect()}
    assert out[("a", 2)].r == 1.0
    assert out[("a", 0)].r is None or out[("a", 0)].r < 1.0
    assert all(out[("a", l)].r is None or out[("a", l)].r < 1.0
               for l in (-3, -2, -1, 0, 1, 3))
    assert out[("const", 0)].r is None
    with pytest.raises(ValueError):
        CrossCorrelation("x", "y", "t", max_lag=0)


def test_cuped_variance_reduction(spark):
    """Y = 2X + noise: CUPED with covariate X recovers theta ~ 2 and
    the adjusted metric's variance is far below the raw variance;
    mean is preserved; var(X) = 0 stratum passes through (theta 0)."""
    import statistics

    from beam_spark.operators.quality import Cuped
    from beam_spark.pcollection import PCollection

    noise = [0.3, -0.2, 0.1, -0.4, 0.25, -0.05, 0.15, -0.15]
    rows = [("s", float(x), 2.0 * x + noise[i])
            for i, x in enumerate([1, 2, 3, 4, 5, 6, 7, 8])]
    rows += [("flat", 5.0, 1.0), ("flat", 5.0, 3.0)]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    out = [(r.k, r.x, r.y, r.y_adj, r.theta) for r in
           (PCollection(df)
            | Cuped("y", "x", keys="k")).df.collect()]
    s = [(x, y, ya, th) for k, x, y, ya, th in out if k == "s"]
    assert abs(s[0][3] - 2.0) < 0.1            # theta ~ slope
    raw = statistics.pvariance([y for _, y, _, _ in s])
    adj = statistics.pvariance([ya for _, _, ya, _ in s])
    assert adj < raw * 0.05
    assert abs(statistics.mean([ya for _, _, ya, _ in s])
               - statistics.mean([y for _, y, _, _ in s])) < 1e-6
    flat = [(ya, th) for k, x, y, ya, th in out if k == "flat"]
    assert all(th == 0.0 for _, th in flat)
    assert sorted(ya for ya, _ in flat) == [1.0, 3.0]


def test_nelson_aalen_known_curve(spark):
    """Classic small example: durations (1,e) (2,e) (2,c) (3,e) (4,c).
    H(1) = 1/5; H(2) = 1/5 + 1/4; H(3) = ... + 1/2 (n_risk at 3 is 2
    after the censored-at-2 subject leaves). survival_fh = exp(-H);
    censored-only times produce no output row."""
    import math

    from beam_spark.operators.stats import NelsonAalen
    from beam_spark.pcollection import PCollection

    rows = [(1.0, 1), (2.0, 1), (2.0, 0), (3.0, 1), (4.0, 0)]
    df = spark.createDataFrame(rows, "duration double, event int")
    out = {r.t: r for r in
           (PCollection(df) | NelsonAalen("duration", "event"))
           .df.collect()}
    assert set(out) == {1.0, 2.0, 3.0}
    assert abs(out[1.0].cum_hazard - 0.2) < 1e-6
    assert abs(out[2.0].cum_hazard - (0.2 + 0.25)) < 1e-6
    assert out[3.0].n_risk == 2
    assert abs(out[3.0].cum_hazard - (0.2 + 0.25 + 0.5)) < 1e-6
    assert abs(out[3.0].survival_fh
               - round(math.exp(-(0.2 + 0.25 + 0.5)), 6)) < 1e-9


def test_query_likelihood_ranks_matching_doc_first(spark):
    """Corpus of three docs; the query equal to doc 1's text ranks
    doc 1 first (a doc always maximizes the likelihood of its own
    terms under Dirichlet smoothing at this scale); all scores
    negative (log domain); every doc is scored (smoothing covers
    misses); mu validation fails fast."""
    import pytest

    from beam_spark.operators.retrieval import QueryLikelihoodTopK
    from beam_spark.pcollection import PCollection

    docs = spark.createDataFrame(
        [(1, "spark shuffle join codegen"),
         (2, "pasta ragu basil olive"),
         (3, "spark pasta mixed corpus doc")],
        "doc_id long, text string")
    queries = spark.createDataFrame(
        [(100, "spark shuffle join codegen")], "query_id long, text string")
    out = (PCollection(docs)
           | QueryLikelihoodTopK(queries, k=3, mu=10.0)).df.collect()
    assert len(out) == 3                  # every doc scored
    ranked = sorted(out, key=lambda r: r.rank)
    assert ranked[0].doc_id == 1
    assert all(r.score < 0 for r in out)
    with pytest.raises(ValueError):
        QueryLikelihoodTopK(queries, mu=0.0)


def test_robust_location_known_values(spark):
    """Values [1..9, 1000] (outlier): mean = 1045/10 = 104.5 pulled;
    10% trim drops 1 and 1000 -> trimmed_mean = mean(2..9) = 5.5;
    median = (5+6)/2 = 5.5; MAD = middle of sorted |x - 5.5| =
    [.5 .5 1.5 1.5 2.5 2.5 3.5 3.5 4.5 994.5] -> 2.5; odd-n key has
    the exact middle median; trim validation fails fast."""
    import pytest

    from beam_spark.operators.quality import RobustLocation
    from beam_spark.pcollection import PCollection

    rows = ([("a", float(x)) for x in range(1, 10)] + [("a", 1000.0)]
            + [("odd", 1.0), ("odd", 2.0), ("odd", 10.0)])
    df = spark.createDataFrame(rows, "k string, v double")
    out = {r.k: r for r in
           (PCollection(df)
            | RobustLocation("v", keys="k", trim=0.1)).df.collect()}
    a = out["a"]
    assert a.n == 10 and a.mean == 104.5
    assert a.trimmed_mean == 5.5
    assert a.median == 5.5
    assert a.mad == 2.5
    assert out["odd"].median == 2.0
    assert out["odd"].mad == 1.0       # |devs| = [1, 0, 8] -> median 1
    with pytest.raises(ValueError):
        RobustLocation("v", trim=0.5)


def test_diff_in_diff_known_effect(spark):
    """Constructed effect: control 10 -> 12 (+2 trend), treated
    20 -> 27 (+7) => did = 5. A key missing the control-post cell
    yields NULL did but still reports the present cells."""
    from beam_spark.operators.quality import DiffInDiff
    from beam_spark.pcollection import PCollection

    rows = []
    for v in (9.0, 11.0):     # control pre, mean 10
        rows.append(("m", False, False, v))
    for v in (11.0, 13.0):    # control post, mean 12
        rows.append(("m", False, True, v))
    for v in (19.0, 21.0):    # treat pre, mean 20
        rows.append(("m", True, False, v))
    for v in (26.0, 28.0):    # treat post, mean 27
        rows.append(("m", True, True, v))
    rows += [("broken", True, True, 5.0), ("broken", True, False, 4.0),
             ("broken", False, False, 3.0)]     # no control-post
    df = spark.createDataFrame(rows, "k string, t boolean, p boolean, v double")
    out = {r.k: r for r in
           (PCollection(df)
            | DiffInDiff("v", "t", "p", keys="k")).df.collect()}
    m = out["m"]
    assert (m.mean_cpre, m.mean_cpost) == (10.0, 12.0)
    assert (m.mean_tpre, m.mean_tpost) == (20.0, 27.0)
    assert m.did == 5.0
    b = out["broken"]
    assert b.did is None and b.n_cpost == 0
    assert b.mean_tpost == 5.0


def test_mean_pool_embeddings_normalize_and_ragged(spark):
    """Mean of [1,0] and [3,4] is [2,2]; normalized -> [1/sqrt2]*2;
    a ragged key fails fast; NULL vectors are dropped from n."""
    import math

    import pytest

    from beam_spark.operators.similarity import MeanPoolEmbeddings
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [("u", [1.0, 0.0]), ("u", [3.0, 4.0]), ("u", None)],
        "k string, embedding array<double>")
    r = (PCollection(df)
         | MeanPoolEmbeddings("k")).df.collect()[0]
    assert r.n == 2 and r.centroid == [2.0, 2.0]
    rn = (PCollection(df)
          | MeanPoolEmbeddings("k", normalize=True)).df.collect()[0]
    assert all(abs(v - 1 / math.sqrt(2)) < 1e-9 for v in rn.centroid)
    ragged = spark.createDataFrame(
        [("u", [1.0, 2.0]), ("u", [1.0])],
        "k string, embedding array<double>")
    with pytest.raises(ValueError):
        (PCollection(ragged) | MeanPoolEmbeddings("k")).df.collect()
    with pytest.raises(ValueError):
        MeanPoolEmbeddings([])


def test_power_analysis_formula_and_required_n(spark):
    """var = 4, n = 200 (100/arm), z sum = 2.8016...: mde =
    zsum * sqrt(8/100) = 0.2828 * zsum; required n per arm for
    effect 0.5 = ceil(zsum^2 * 8 / 0.25); mean 0 -> NULL mde_rel."""
    import math

    from beam_spark.operators.quality import (PowerAnalysis,
                                              Z_ALPHA_05, Z_POWER_80)
    from beam_spark.pcollection import PCollection

    # symmetric values -> mean 0, pvariance 4 (ddof=1 adjusted below)
    rows = [("k", 2.0)] * 100 + [("k", -2.0)] * 100
    df = spark.createDataFrame(rows, "g string, v double")
    out = (PCollection(df)
           | PowerAnalysis("v", keys="g", target_effect=0.5)
           ).df.collect()[0]
    zsum = Z_ALPHA_05 + Z_POWER_80
    var = 4.0 * 200 / 199          # sample variance
    assert abs(out.var - round(var, 6)) < 1e-9
    assert abs(out.mde_abs
               - round(zsum * math.sqrt(2 * var / 100.0), 6)) < 1e-9
    assert out.mde_rel is None     # mean is 0
    assert out.n_per_arm_required == math.ceil(
        zsum * zsum * 2 * var / 0.25)
    import pytest
    with pytest.raises(ValueError):
        PowerAnalysis("v", target_effect=0.0)


def test_log_rank_identical_vs_separated_groups(spark):
    """Identical survival in both groups -> z ~ 0; a group that dies
    strictly earlier -> large |chi2| with the expected sign (group A
    dying early means observed > expected: positive z). Lifelines-
    checked formula on a tiny case: A dies at 1,2; B dies at 3,4:
    O-E terms at t=1..4 sum to (1-2/4)+(1-1/3)+(0-1/2)+(0-0) -> z>0."""
    from beam_spark.operators.stats import LogRankTest
    from beam_spark.pcollection import PCollection

    same = spark.createDataFrame(
        [(float(t), 1, g) for t in (1, 2, 3) for g in ("A", "B")],
        "duration double, event int, g string")
    r = (PCollection(same)
         | LogRankTest("duration", "event", "g", "A")).df.collect()[0]
    assert r.z == 0.0 and r.chi2 == 0.0
    assert (r.n_a, r.n_b, r.events_a, r.events_b) == (3, 3, 3, 3)

    sep = spark.createDataFrame(
        [(1.0, 1, "A"), (2.0, 1, "A"), (3.0, 1, "B"), (4.0, 1, "B")],
        "duration double, event int, g string")
    r2 = (PCollection(sep)
          | LogRankTest("duration", "event", "g", "A")).df.collect()[0]
    expected_oe = (1 - 2/4) + (1 - 1/3)
    assert r2.z > 0 and r2.chi2 > 1.0
    v = (2/4)*(1-2/4)*1 + (1/3)*(1-1/3)*1   # (n-d)/(n-1)=1 at d=1
    assert abs(r2.chi2 - expected_oe**2 / v) < 1e-6


def test_covariance_matrix_ragged_across_batches_fails_fast(spark):
    """Round-13 ADVICE regression: vectors of different lengths in
    DIFFERENT batches must fail loudly, not posexplode into silently
    mixed partial-Gram cells (within one batch np.stack already
    raises). Two single-row partitions guarantee separate batches."""
    import pytest

    from beam_spark.operators.similarity import (CovarianceMatrix,
                                                 PcaProject)
    from beam_spark.pcollection import PCollection

    # one partition of len-2 vectors, one of len-3 (range-partitioned
    # on vec_id — a union of LocalRelations would fold back into one
    # partition): each batch is internally consistent, so only the
    # cross-batch check can catch the mismatch
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 5.0]),
         (2, [3.0, 4.0, 5.0]), (3, [1.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>").repartitionByRange(
            2, "vec_id")
    with pytest.raises(Exception, match="ragged"):
        (PCollection(df) | CovarianceMatrix()).df.collect()
    with pytest.raises(Exception, match="ragged"):
        (PCollection(df) | PcaProject(k=1)).df.collect()


def test_mahalanobis_ragged_across_batches_fails_fast(spark):
    import pytest

    from beam_spark.operators.quality import MahalanobisOutliers
    from beam_spark.pcollection import PCollection

    rows = ([(i, [float(i), float(i % 3)]) for i in range(4)]
            + [(10 + i, [1.0, 2.0, float(i)]) for i in range(4)])
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartitionByRange(2, "vec_id")
    with pytest.raises(Exception, match="ragged"):
        (PCollection(df) | MahalanobisOutliers()).df.collect()


def test_query_likelihood_empty_tokens_dropped(spark):
    """Round-13 ADVICE regression: whitespace-only text tokenizes to
    [''] under raw split — the '' must be dropped so it neither
    inflates dl nor enters postings/cf nor scores as a query term.
    A whitespace-only QUERY therefore returns no rows, and a
    whitespace-only DOC scores exactly like an empty one (dl = 0)."""
    from beam_spark.operators.retrieval import QueryLikelihoodTopK
    from beam_spark.pcollection import PCollection

    docs = spark.createDataFrame(
        [(1, "spark shuffle"), (2, "   "), (3, "pasta ragu")],
        "doc_id long, text string")
    qs = spark.createDataFrame(
        [(100, "spark"), (200, "  \t ")], "query_id long, text string")
    out = (PCollection(docs)
           | QueryLikelihoodTopK(qs, k=3, mu=10.0)).df.collect()
    assert {r.query_id for r in out} == {100}   # ws query -> no rows
    by_doc = {r.doc_id: r.score for r in out}
    # dl = 0 for the whitespace doc: score = ln(mu*cf/C / (0 + mu))
    # = ln(cf/C) = ln(1/4) with cf('spark') = 1 over C = 4 tokens
    import math
    assert abs(by_doc[2] - round(math.log(1.0 / 4.0), 6)) < 1e-6


def test_merge_into_validate_costs_zero_extra_jobs(spark):
    """Round-13: validate=True must not run a driver-side pre-flight
    job at expand time (it used to limit(1).collect() once per MERGE
    — one extra job per micro-batch in a foreachBatch upsert loop).
    Building the merged frame launches ZERO Spark jobs; the guard
    rides the merge job itself and a unique-keyed source still
    merges clean with validation on."""
    from beam_spark.operators.scd import MergeInto
    from beam_spark.pcollection import PCollection

    t = spark.createDataFrame([(1, 10.0), (2, 20.0)],
                              "id long, v double")
    s = spark.createDataFrame([(2, 99.0), (3, 30.0)],
                              "id long, v double")
    sc = spark.sparkContext
    sc.setJobGroup("merge_expand_probe", "expand should be lazy")
    try:
        merged = (PCollection(t)
                  | MergeInto(s, keys="id", validate=True)).df
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("merge_expand_probe")
    assert len(jobs) == 0, f"expand launched jobs: {jobs}"
    out = {r["id"]: r["v"] for r in merged.collect()}
    assert out == {1: 10.0, 2: 99.0, 3: 30.0}


def test_dbscan_clusters_toy(spark):
    """Hand-checked 1-d DBSCAN: chain {0.0, 0.1, 0.2} at eps=0.15
    links only adjacent points. min_pts=2: all three are cores, one
    cluster labeled by the min id; the isolated 9.0 is noise.
    min_pts=3: only the middle point is core, the ends become
    borders attached to its cluster. Validation fails fast."""
    import pytest

    from beam_spark.operators.similarity import DbscanClusters
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(1, 0.0), (2, 0.1), (3, 0.2), (4, 5.0), (5, 5.1),
         (6, 5.2), (7, 9.0)], "id long, x double")
    out = {r.id: r for r in
           (PCollection(df)
            | DbscanClusters("x", eps=0.15, min_pts=2)).df.collect()}
    assert out[1].cluster == 1 and out[2].cluster == 1 \
        and out[3].cluster == 1
    assert all(out[i].is_core for i in (1, 2, 3, 4, 5, 6))
    assert out[4].cluster == 4 and out[6].cluster == 4
    assert out[7].cluster is None and not out[7].is_core

    out3 = {r.id: r for r in
            (PCollection(df)
             | DbscanClusters("x", eps=0.15, min_pts=3)).df.collect()}
    assert out3[2].is_core and out3[2].cluster == 2
    assert not out3[1].is_core and out3[1].cluster == 2   # border
    assert not out3[3].is_core and out3[3].cluster == 2
    assert out3[7].cluster is None

    with pytest.raises(ValueError):
        DbscanClusters(["a", "b", "c", "d"], eps=1.0)
    with pytest.raises(ValueError):
        DbscanClusters("x", eps=0.0)
    with pytest.raises(ValueError):
        DbscanClusters("x", eps=1.0, min_pts=0)


def test_kalman_local_level_hand_checked(spark):
    """q=0.25, r=1: seed (m=2, P=1); a NULL predicts through
    (P=1.25, gain NULL); then x=4: Pp=1.5, K=0.6, m=3.2, P=0.9*...
    = 0.6. Leading NULLs stay unseeded; validation fails fast."""
    import pytest

    from beam_spark.operators.stats import KalmanLocalLevel
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [("a", 1, 2.0), ("a", 2, None), ("a", 3, 4.0),
         ("b", 1, None), ("b", 2, 8.0)],
        "k string, i int, v double")
    out = {(r.k, r.i): r for r in
           (PCollection(df) | KalmanLocalLevel(
               "v", keys="k", order_by="i")).df.collect()}
    a1, a2, a3 = out[("a", 1)], out[("a", 2)], out[("a", 3)]
    assert (a1.level, a1.pvar, a1.kgain) == (2.0, 1.0, None)
    assert (a2.level, a2.pvar, a2.kgain) == (2.0, 1.25, None)
    assert a3.kgain == 0.6 and a3.level == 3.2
    assert a3.pvar == (1.0 - 0.6) * 1.5          # 0.6000000000000001
    b1, b2 = out[("b", 1)], out[("b", 2)]
    assert b1.level is None and b1.pvar is None
    assert (b2.level, b2.pvar, b2.kgain) == (8.0, 1.0, None)
    with pytest.raises(ValueError):
        KalmanLocalLevel("v", keys="k", order_by="i", r=0.0)
    with pytest.raises(ValueError):
        KalmanLocalLevel("v", keys="k", order_by="i", q=-1.0)


def test_kneser_ney_perplexity_semantics(spark):
    """In-distribution text scores lower perplexity than OOV text;
    fully-OOV bigrams still score finite (the +1 uniform slot);
    docs with < 2 tokens get NULL nll and n_events 0; discount
    validation fails fast."""
    import pytest

    from beam_spark.operators.text import KneserNeyPerplexity
    from beam_spark.pcollection import PCollection

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)]
        + [(10 + i, "the dog sat on the rug") for i in range(5)],
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(100, "the cat sat on the rug"),
         (101, "zzz qqq xxx yyy"),
         (102, "single"),
         (103, None)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           (PCollection(test)
            | KneserNeyPerplexity(train)).df.collect()}
    assert out[100].ppl < out[101].ppl       # in-dist beats OOV
    assert out[101].ppl is not None          # OOV finite
    assert out[100].n_events == 5 and out[101].n_events == 3
    assert out[102].n_events == 0 and out[102].nll is None
    assert out[103].n_events == 0 and out[103].ppl is None
    with pytest.raises(ValueError):
        KneserNeyPerplexity(discount=1.0)
    # self-train mode: scoring frame is its own corpus
    selfed = (PCollection(train)
              | KneserNeyPerplexity()).df.collect()
    assert all(r.ppl is not None for r in selfed)


def test_pl2_topk_semantics(spark):
    """A doc repeating the query term ranks above one mentioning it
    once among other terms; query terms absent from the collection
    are dropped (a fully-OOV query returns no rows); c validation
    fails fast."""
    import pytest

    from beam_spark.operators.retrieval import Pl2TopK
    from beam_spark.pcollection import PCollection

    docs = spark.createDataFrame(
        [(1, "spark spark spark shuffle"),
         (2, "spark pasta ragu basil"),
         (3, "pasta ragu basil olive")],
        "doc_id long, text string")
    qs = spark.createDataFrame(
        [(100, "spark"), (200, "zzz qqq")], "query_id long, text string")
    out = (PCollection(docs) | Pl2TopK(qs, k=3)).df.collect()
    assert {r.query_id for r in out} == {100}     # OOV query dropped
    ranked = sorted([r for r in out], key=lambda r: r.rank)
    assert ranked[0].doc_id == 1                  # heavy tf wins
    assert len(ranked) == 2                       # only docs w/ term
    with pytest.raises(ValueError):
        Pl2TopK(qs, c=0.0)


def test_changepoint_binseg_hand_checked(spark):
    """Step series [0,0,0,10,10,10]: one cp at position 3 with gain
    0 + 900/3 - 900/6 = 150; round 2 finds nothing (both halves
    constant). Two-step series [0,0,5,5,10,10]: round-1 gains tie at
    75.0 for p=2 and p=4 — position tie-break picks 2; round 2 splits
    the right segment at 4 (gain 25). Validation fails fast."""
    import pytest

    from beam_spark.operators.stats import ChangepointBinSeg
    from beam_spark.pcollection import PCollection

    rows = ([("a", i + 1, v) for i, v in
             enumerate([0.0, 0.0, 0.0, 10.0, 10.0, 10.0])]
            + [("b", i + 1, v) for i, v in
               enumerate([0.0, 0.0, 5.0, 5.0, 10.0, 10.0])])
    df = spark.createDataFrame(rows, "k string, i int, v double")
    out = sorted(
        [(r.k, r.cp_round, r.position, r.gain) for r in
         (PCollection(df) | ChangepointBinSeg(
             "v", keys="k", order_by="i", k=2,
             min_size=2)).df.collect()])
    assert ("a", 1, 3, 150.0) in out
    assert not any(k == "a" and rnd == 2 for k, rnd, _, _ in out)
    assert ("b", 1, 2, 75.0) in out
    assert ("b", 2, 4, 25.0) in out
    with pytest.raises(ValueError):
        ChangepointBinSeg("v", keys="k", order_by="i", k=0)
    with pytest.raises(ValueError):
        ChangepointBinSeg("v", keys="k", order_by="i", min_size=0)


def test_bootstrap_ci_semantics(spark):
    """The percentile CI brackets the sample mean on well-behaved
    data; a 10x larger sample yields a tighter interval; weights are
    deterministic (two runs identical); validation fails fast."""
    import pytest

    from beam_spark.operators.stats import BootstrapCI
    from beam_spark.pcollection import PCollection

    small = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(60)], "id long, v double")
    big = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(600)], "id long, v double")
    r1 = (PCollection(small)
          | BootstrapCI("v", id_col="id", b=100)).df.collect()[0]
    r2 = (PCollection(small)
          | BootstrapCI("v", id_col="id", b=100)).df.collect()[0]
    assert r1 == r2                                  # deterministic
    assert r1.ci_lo <= r1.mean <= r1.ci_hi
    rb = (PCollection(big)
          | BootstrapCI("v", id_col="id", b=100)).df.collect()[0]
    assert (rb.ci_hi - rb.ci_lo) < (r1.ci_hi - r1.ci_lo)
    with pytest.raises(ValueError):
        BootstrapCI("v", id_col="id", b=5)
    with pytest.raises(ValueError):
        BootstrapCI("v", id_col="id", alpha=0.0)


def test_bootstrap_ci_overflow_fails_loud(spark):
    """Round-14 ADVICE regression: |x| >= 1e7 try_casts to NULL at
    decimal(16,9) — such a value must raise an actionable error, not
    silently drop out of the resample sums while still inflating the
    weight/count denominators."""
    import pytest

    from beam_spark.operators.stats import BootstrapCI
    from beam_spark.pcollection import PCollection

    big = spark.createDataFrame(
        [(0, 1.0e9)] + [(i, float(i % 7)) for i in range(1, 40)],
        "id long, v double")
    with pytest.raises(Exception, match="overflowed"):
        (PCollection(big)
         | BootstrapCI("v", id_col="id", b=20)).df.collect()


def test_ddsketch_relative_error_guarantee(spark):
    """The DDSketch estimate is within alpha relative error of the
    EXACT quantile on a lognormal-ish spread; zeros/negatives are
    excluded and counted; validation fails fast."""
    import pytest

    from beam_spark.operators.stats import DdSketchQuantiles
    from beam_spark.pcollection import PCollection

    vals = [float(2 ** (i % 13)) + i * 0.001 for i in range(1, 400)]
    rows = [(v,) for v in vals] + [(0.0,), (-5.0,), (None,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r.q: r for r in
           (PCollection(df) | DdSketchQuantiles(
               "v", quantiles=(0.5, 0.95), alpha=0.02)).df.collect()}
    import statistics
    sv = sorted(vals)
    for q in (0.5, 0.95):
        exact = sv[int(q * (len(sv) - 1))]
        est = out[q].estimate
        assert abs(est - exact) <= 0.021 * exact, (q, est, exact)
        assert out[q].n == len(vals)
        assert out[q].n_nonpos == 2
    with pytest.raises(ValueError):
        DdSketchQuantiles("v", quantiles=(1.5,))
    with pytest.raises(ValueError):
        DdSketchQuantiles("v", alpha=0.0)


def test_mutual_information_rank(spark):
    """Round-14: a feature that perfectly determines the label gets
    MI = H(label); an independent feature gets MI ~ 0; a constant
    feature gets MI = 0 exactly; NULL label rows drop globally, NULL
    feature values drop per-feature (per-feature n); validation."""
    import math

    import pytest

    from beam_spark.operators.quality import MutualInformationRank
    from beam_spark.pcollection import PCollection

    # y uniform over {a,b}; f_perfect == y; f_indep alternates within
    # each y (exactly independent); f_const constant
    rows = []
    for i in range(40):
        y = "a" if i % 2 == 0 else "b"
        rows.append((i, y, y, str(i % 4 // 2), "k",
                     None if i == 0 else "x"))
    df = spark.createDataFrame(
        rows, "id long, y string, f_perfect string, f_indep string, "
              "f_const string, f_null string")
    out = {r.feature: r for r in (PCollection(df)
           | MutualInformationRank(
               ["f_perfect", "f_indep", "f_const", "f_null"],
               "y")).df.collect()}
    assert abs(out["f_perfect"].mi - 1.0) < 1e-9    # H(y) = 1 bit
    assert abs(out["f_indep"].mi) < 1e-9
    assert out["f_const"].mi == 0.0
    assert out["f_const"].h_feature == 0.0
    assert out["f_null"].n == 39                    # per-feature n
    assert out["f_perfect"].n == 40
    with pytest.raises(ValueError, match="feature"):
        MutualInformationRank([], "y")


def test_ams_f2_sketch_properties(spark):
    """Round-14: the estimate is deterministic (two runs identical —
    md5 signs, no RNG state); partitioning-invariant (cells ADD, so
    1 vs 8 partitions give the identical sketch); within 2.5 sigma
    of exact F2 on a skewed distribution; validation fails fast."""
    import math

    import pytest

    from beam_spark.operators.stats import AmsF2Sketch
    from beam_spark.pcollection import PCollection

    # skewed: value v appears v times, v = 1..40 -> F2 = sum v^2
    rows = [(v,) for v in range(1, 41) for _ in range(v)]
    f2 = sum(v * v for v in range(1, 41))
    df = spark.createDataFrame(rows, "v long")
    r1 = (PCollection(df)
          | AmsF2Sketch("v", counters=64)).df.collect()[0]
    r2 = (PCollection(df.repartition(8))
          | AmsF2Sketch("v", counters=64)).df.collect()[0]
    assert r1.f2_estimate == r2.f2_estimate     # partition-invariant
    assert r1.n == sum(range(1, 41))
    sigma = math.sqrt(2.0 / 64) * f2
    assert abs(r1.f2_estimate - f2) <= 2.5 * sigma
    with pytest.raises(ValueError, match="counters"):
        AmsF2Sketch("v", counters=2)


def test_kneser_ney_empty_train_fails_fast(spark):
    """Round-13 polish: an empty / bigram-less train corpus raises
    instead of silently scoring NaN probabilities."""
    import pytest

    from beam_spark.operators.text import KneserNeyPerplexity
    from beam_spark.pcollection import PCollection

    empty = spark.createDataFrame([], "doc_id long, text string")
    single = spark.createDataFrame([(1, "word")],
                                   "doc_id long, text string")
    test = spark.createDataFrame([(2, "a b")],
                                 "doc_id long, text string")
    with pytest.raises(ValueError, match="no bigrams"):
        (PCollection(test) | KneserNeyPerplexity(empty)).df
    with pytest.raises(ValueError, match="no bigrams"):
        (PCollection(test) | KneserNeyPerplexity(single)).df


def test_kneser_ney_trigram_semantics(spark):
    """Round-14 (VERDICT #5): order=3 — in-distribution text beats
    OOV; a trigram seen verbatim in train scores lower nll than the
    same words in unseen order (the extra context level at work);
    docs with < 3 tokens get n_events 0; a 2-token-doc-only corpus
    has no trigrams and fails fast; order validation fails fast."""
    import math

    import pytest

    from beam_spark.operators.text import KneserNeyPerplexity
    from beam_spark.pcollection import PCollection

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)]
        + [(10 + i, "the dog sat on the rug") for i in range(5)],
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(100, "the cat sat on the rug"),
         (101, "zzz qqq xxx yyy"),
         (102, "mat the sat cat on the"),   # same words, unseen order
         (103, "to be"),                    # < 3 tokens
         (104, None)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           (PCollection(test)
            | KneserNeyPerplexity(train, order=3)).df.collect()}
    assert out[100].ppl < out[101].ppl        # in-dist beats OOV
    assert out[100].nll < out[102].nll        # order matters at n=3
    assert out[101].ppl is not None and math.isfinite(out[101].ppl)
    assert out[100].n_events == 4 and out[101].n_events == 2
    assert out[103].n_events == 0 and out[103].nll is None
    assert out[104].n_events == 0 and out[104].ppl is None
    # hand-check one fully-seen trigram: 'the cat sat' occurs 5x,
    # context 'the cat' occurs 5x with 1 continuation ->
    # P3 = (5 - .75)/5 + (.75 * 1/5) * P2('sat'|'cat');
    # cb('cat','sat') = 1, ctx2('cat'): cbt = 1, n1fw2 = 1 ->
    # P2 = (1 - .75)/1 + (.75 * 1/1) * P1('sat');
    # continuation tables from the 7 trigram types: cu('sat') = 2
    # (after cat/dog), B2 = 6 distinct (v,w), Vc = 5 distinct
    # continuation words, V = 7 train vocab ->
    # P1 = (2 - .75)/6 + (.75 * 5/6) * (1/8)
    p1 = (2 - 0.75) / 6 + (0.75 * 5 / 6) * (1 / 8)
    p2 = (1 - 0.75) / 1 + (0.75 * 1 / 1) * p1
    p3 = (5 - 0.75) / 5 + (0.75 * 1 / 5) * p2
    only = {r.doc_id: r for r in (PCollection(spark.createDataFrame(
        [(200, "the cat sat")], "doc_id long, text string"))
        | KneserNeyPerplexity(train, order=3)).df.collect()}
    assert abs(float(only[200].nll) - round(-math.log(p3), 6)) < 2e-6
    with pytest.raises(ValueError, match="order"):
        KneserNeyPerplexity(order=4)
    two_tok = spark.createDataFrame([(1, "a b"), (2, "c d")],
                                    "doc_id long, text string")
    test3 = spark.createDataFrame([(3, "a b c")],
                                  "doc_id long, text string")
    with pytest.raises(ValueError, match="no trigrams"):
        (PCollection(test3) | KneserNeyPerplexity(two_tok, order=3)).df


def test_lsh_dbscan_recall_vs_exact_grid(spark):
    """Round-14 (VERDICT #6): the LSH variant's verified pairs are a
    SUBSET of the true eps-pairs (exact-distance verify), so it can
    only under-cluster — every LSH-clustered point must be clustered
    by the exact grid run, and with enough bands the recall floor
    holds: >= 90% of exactly-clustered points are also LSH-clustered.
    d=2 so the grid variant is the exact reference."""
    import numpy as np

    from beam_spark.operators.similarity import (DbscanClusters,
                                                 DbscanClustersLsh)
    from beam_spark.pcollection import PCollection

    rng = np.random.default_rng(42)
    pts = []
    pid = 0
    for cx, cy in [(0, 0), (10, 0), (0, 10), (10, 10), (5, 5)]:
        for _ in range(30):
            pts.append((pid, float(cx + rng.normal(0, 0.3)),
                        float(cy + rng.normal(0, 0.3))))
            pid += 1
    for _ in range(20):
        pts.append((pid, float(rng.uniform(-20, 30)),
                    float(rng.uniform(20, 40))))
        pid += 1
    df = spark.createDataFrame(pts, "id long, x double, y double")
    exact = {r.id: r.cluster for r in (
        PCollection(df)
        | DbscanClusters(["x", "y"], eps=1.0, min_pts=4)).df.collect()}
    vdf = df.selectExpr("id", "array(x, y) AS v")
    lsh = {r.id: r.cluster for r in (
        PCollection(vdf)
        | DbscanClustersLsh("v", eps=1.0, min_pts=4, bands=12,
                            rows_per_band=1, seed=3)).df.collect()}
    ex_clustered = {i for i, c in exact.items() if c is not None}
    lsh_clustered = {i for i, c in lsh.items() if c is not None}
    assert lsh_clustered <= ex_clustered      # no false clustering
    assert len(lsh_clustered) >= 0.9 * len(ex_clustered)
    assert len(ex_clustered) >= 140           # the blobs did cluster
    # co-membership agreement on the LSH-clustered subset: pairs the
    # exact run separates must stay separated (pair subset property)
    ids = sorted(lsh_clustered)
    for i in ids[:50]:
        for j in ids[:50]:
            if i < j and lsh[i] == lsh[j]:
                assert exact[i] == exact[j]


def test_lsh_dbscan_validation(spark):
    import pytest

    from beam_spark.operators.similarity import DbscanClustersLsh
    from beam_spark.pcollection import PCollection

    with pytest.raises(ValueError, match="eps"):
        DbscanClustersLsh("v", eps=0.0)
    with pytest.raises(ValueError, match="bands"):
        DbscanClustersLsh("v", eps=1.0, bands=0)
    with pytest.raises(ValueError, match="rows_per_band"):
        DbscanClustersLsh("v", eps=1.0, rows_per_band=9)
    s = spark.createDataFrame([("a", [1.0, 2.0])],
                              "id string, v array<double>")
    with pytest.raises(ValueError, match="integral"):
        (PCollection(s) | DbscanClustersLsh("v", eps=1.0)).df
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
        "id long, v array<double>")
    with pytest.raises(ValueError, match="ragged"):
        (PCollection(ragged) | DbscanClustersLsh("v", eps=1.0)).df
    wide = spark.createDataFrame(
        [(1, [float(i) for i in range(65)])],
        "id long, v array<double>")
    with pytest.raises(ValueError, match="dim 65"):
        (PCollection(wide) | DbscanClustersLsh("v", eps=1.0)).df


def test_dbscan_rejects_non_integral_ids(spark):
    import pytest

    from beam_spark.operators.similarity import DbscanClusters
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame([("a", 1.0)], "id string, x double")
    with pytest.raises(ValueError, match="integral"):
        (PCollection(df) | DbscanClusters("x", eps=1.0)).df


def test_luhn_validate_known_vectors_and_findings(spark):
    """Round-15 Luhn: standard test PANs validate, off-by-one fails,
    separators strip, out-of-range lengths yield NULL (not False);
    CardFindings counts candidates vs Luhn-valid per document — the
    false-positive cutter over PiiRedact's shape-only <CARD> match."""
    from beam_spark.operators.text import CardFindings, LuhnValidate
    from beam_spark.pcollection import PCollection

    rows = [
        (1, "4539148803436467"),      # valid Visa test PAN
        (2, "4539 1488 0343 6467"),   # same, separated
        (3, "4539148803436468"),      # last digit off -> invalid
        (4, "79927398713"),           # classic Luhn example BUT 11
                                      # digits -> out of range -> NULL
        (5, "12345"),                 # too short -> NULL
        (6, None),                    # NULL in -> NULL out
        (7, "ABCDEFGHIJKLMNO"),       # 15 chars but not digits -> NULL
    ]
    df = spark.createDataFrame(rows, "id long, pan string")
    got = {r.id: r.pan_luhn_valid for r in
           (PCollection(df) | LuhnValidate("pan")).df.collect()}
    assert got == {1: True, 2: True, 3: False, 4: None, 5: None,
                   6: None, 7: None}

    docs = [
        (1, "pay with 4539 1488 0343 6467 or 4111-1111-1111-1111 ok"),
        (2, "order 1234567812345678 shipped ref 9999 8888 7777 6666"),
        (3, "no numbers here"),
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: (r.card_candidates, r.card_valid) for r in
           (PCollection(ddf) | CardFindings()).df.collect()}
    # doc 1: two real (Luhn-valid) test PANs; doc 2: two card-shaped
    # but invalid runs — the shape-only pattern can't tell them apart,
    # the checksum can
    assert out[1] == (2, 2)
    assert out[2] == (2, 0)
    assert out[3] == (0, 0)


def test_iban_validate_known_vectors(spark):
    """Round-15 IBAN mod-97-10: the ISO 13616 canonical example
    validates (with spaces and lower-case normalized), a one-digit
    edit fails, non-IBAN shapes yield NULL."""
    from beam_spark.operators.text import IbanValidate
    from beam_spark.pcollection import PCollection

    rows = [
        (1, "GB82 WEST 1234 5698 7654 32"),   # canonical valid example
        (2, "gb82 west 1234 5698 7654 32"),   # case-normalized
        (3, "GB82WEST12345698765432"),        # no spaces
        (4, "GB82 WEST 1234 5698 7654 33"),   # one digit off -> False
        (5, "DE00123"),                       # too short -> NULL
        (6, "hello world"),                   # not IBAN-shaped -> NULL
        (7, None),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {r.id: r.s_iban_valid for r in
           (PCollection(df) | IbanValidate("s")).df.collect()}
    assert got == {1: True, 2: True, 3: True, 4: False, 5: None,
                   6: None, 7: None}
