"""ML module behavior tests: RunInference caching/DLQ, chunk overlap
semantics, feature transform correctness."""

import pytest
from pyspark.sql import functions as F

from beam_spark import queries as q
from beam_spark.pcollection import Pipeline
from beam_spark.operators.core import Create
from beam_spark.ml.chunking import ChunkText
from beam_spark.ml.inference import (DeterministicFakeHandler, ModelHandler,
                                     RunInference)
from beam_spark.ml.transforms import (ApplyBuckets, BagOfWords, Bucketize,
                                      NGrams, ScaleTo01, ScaleToZScore)


def test_runinference_deterministic(spark, sf_dir):
    df1 = q.queries()["q_ml_runinference_fake"](spark, sf_dir)
    a = sorted((r["doc_id"], round(r["score"], 12)) for r in df1.collect())
    df2 = q.queries()["q_ml_runinference_fake"](spark, sf_dir)
    b = sorted((r["doc_id"], round(r["score"], 12)) for r in df2.collect())
    assert a == b and len(a) > 0
    assert all(0.0 <= s <= 1.0 for _, s in a)


def test_runinference_dlq(spark):
    class Flaky(ModelHandler):
        share_token = "flaky"

        def load_model(self):
            return None

        def run_inference(self, batch, model):
            if any(x == "bad" for x in batch):
                raise RuntimeError("poison batch")
            return [float(len(x)) for x in batch]

    main = (Pipeline(spark)
            | Create([{"t": "ok"}, {"t": "bad"}, {"t": "fine"}])
            | RunInference(Flaky(), "t", output_col="score",
                           batch_size=1).with_exception_handling())
    rows = main.collect()
    errs = [r for r in rows if r["__error"] is not None]
    good = [r for r in rows if r["__error"] is None]
    assert len(errs) == 1 and "poison" in errs[0]["__error"]
    assert sorted(r["score"] for r in good) == [2.0, 4.0]


def test_chunk_overlap_semantics(spark):
    text = " ".join(f"w{i}" for i in range(150))
    out = (Pipeline(spark)
           | Create([{"doc_id": 1, "text": text}])
           | ChunkText(chunk_tokens=64, overlap_tokens=8))
    rows = sorted(out.collect(), key=lambda r: r["chunk_index"])
    # stride 56: chunks at 0, 56, 112
    assert [r["chunk_index"] for r in rows] == [0, 1, 2]
    assert rows[0]["chunk_text"].split()[:1] == ["w0"]
    assert rows[1]["chunk_text"].split()[0] == "w56"
    # overlap: chunk1 starts 8 tokens before chunk0's end
    assert rows[0]["chunk_text"].split()[-8:] == rows[1]["chunk_text"].split()[:8]
    assert rows[2]["n_chunk_tokens"] == 150 - 112


def test_chunk_short_doc_single_chunk(spark):
    out = (Pipeline(spark)
           | Create([{"doc_id": 1, "text": "a b c"}])
           | ChunkText(chunk_tokens=64, overlap_tokens=8))
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["n_chunk_tokens"] == 3


def test_scale_and_buckets(spark):
    pc = Pipeline(spark) | Create([{"x": float(i)} for i in range(11)])
    scaled = (pc | ScaleTo01("x")).collect()
    vals = sorted(r["x_scaled"] for r in scaled)
    assert vals[0] == 0.0 and vals[-1] == 1.0

    z = (pc | ScaleToZScore("x")).collect()
    assert abs(sum(r["x_z"] for r in z)) < 1e-9

    b = (pc | ApplyBuckets("x", [3.0, 7.0])).collect()
    got = {r["x"]: r["x_bucket"] for r in b}
    assert got[0.0] == 0 and got[5.0] == 1 and got[9.0] == 2

    qb = (pc | Bucketize("x", 4, out_col="qb")).collect()
    assert set(r["qb"] for r in qb) <= {0, 1, 2, 3}


def test_ngrams_and_bow(spark):
    pc = Pipeline(spark) | Create([{"text": "a b a c"}])
    ng = (pc | NGrams(n=2)).collect()[0]["ngrams"]
    assert ng == ["a b", "b a", "a c"]
    bow = (pc | BagOfWords()).collect()[0]["bow"]
    assert bow == {"a": 2, "b": 1, "c": 1}


def test_llm_dataprep_pipeline_shape(spark, sf_dir):
    df = q.queries()["q_pipeline_llm_dataprep"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    # unit-norm 32-dim embeddings (scalar probes), stable chunk ids
    for r in rows[:20]:
        assert r["embedding_dim"] == 32
        assert abs(r["embedding_sq_norm"] - 1.0) < 1e-3
        assert r["chunk_id"] == f"{r['doc_id']}#{r['chunk_index']}"
    # near-dup losers are gone: minhash pairs' higher ids absent
    from beam_spark.operators.dedupe import MinHashLSH
    from beam_spark.operators.text import QualityScore
    from beam_spark.operators.core import Filter
    scored = (q.table(spark, sf_dir, "documents") | QualityScore()
              | Filter("quality_score > 0.3"))
    losers = {r["j"] for r in (scored | MinHashLSH(threshold=0.6)).df.collect()}
    kept_docs = {r["doc_id"] for r in rows}
    assert not (losers & kept_docs)


def test_isolation_forest_semantics(spark):
    """Round-14: planted extreme points isolate in fewer random cuts
    and take the top anomaly scores; scores are deterministic across
    runs AND partitionings (md5 sample + md5 thresholds, no RNG
    state); NULL-feature rows score NULL; scores live in (0, 1];
    empty input and parameter validation fail fast."""
    import numpy as np
    import pytest

    from beam_spark.ml.iforest import IsolationForest
    from beam_spark.pcollection import PCollection

    rng = np.random.default_rng(1)
    rows = [(i, float(rng.normal(0, 1)), float(rng.normal(0, 1)))
            for i in range(200)]
    rows += [(900, 50.0, 50.0), (901, -40.0, 60.0),
             (902, None, 1.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    t = IsolationForest(["x", "y"], id_col="id", trees=8, depth=6,
                        seed=7)
    out = {r.id: r for r in (PCollection(df) | t).df.collect()}
    scores = {k: v.iforest_score for k, v in out.items()
              if v.iforest_score is not None}
    top2 = set(sorted(scores, key=lambda k: -scores[k])[:2])
    assert top2 == {900, 901}
    assert out[902].iforest_score is None
    assert all(0.0 < s <= 1.0 for s in scores.values())
    out2 = {r.id: r.iforest_score for r in
            (PCollection(df.repartition(7))
             | IsolationForest(["x", "y"], id_col="id", trees=8,
                               depth=6, seed=7)).df.collect()}
    assert all(out2[k] == v.iforest_score for k, v in out.items())
    with pytest.raises(ValueError, match="trees"):
        IsolationForest("x", id_col="id", trees=0)
    with pytest.raises(ValueError, match="2048"):
        IsolationForest("x", id_col="id", trees=32, depth=8)
    empty = spark.createDataFrame([], "id long, x double")
    with pytest.raises(ValueError, match="empty"):
        (PCollection(empty) | IsolationForest("x", id_col="id")).df


def test_robust_zscore_resists_masking(spark):
    """Round-14: two extreme outliers inflate the plain z-score's
    mean AND stddev enough to mask themselves (|z| < 3), while the
    median/MAD robust score flags both; an all-constant-but-outlier
    group (MAD = 0) still flags via the EPSILON floor; the vote
    rules combine flags correctly and validate."""
    import pytest

    from beam_spark.ml.anomaly import AnomalyVote, RobustZScoreDetector, ZScoreDetector
    from beam_spark.pcollection import PCollection

    # 20 values in [9.8, 11.8] + two at 1000: z of the outliers is
    # ~sqrt(n/2) * (1 - 1/n) ~ 3.0 > masked territory at n=22? use 8
    # inliers + 2 outliers -> |z| ~ 1.9, robustly masked
    rows = ([(i, 10.0 + (i % 5) * 0.1) for i in range(8)]
            + [(100, 1000.0), (101, 1000.0)])
    df = spark.createDataFrame(rows, "id long, v double")
    z = {r.id: r.is_anomaly for r in (
        PCollection(df) | ZScoreDetector("v", threshold=3.0)).df.collect()}
    r = {r.id: r for r in (
        PCollection(df)
        | RobustZScoreDetector("v", threshold=3.0)).df.collect()}
    assert not z[100] and not z[101]          # masked for plain z
    assert r[100].is_anomaly and r[101].is_anomaly
    assert not r[0].is_anomaly
    # MAD = 0: constant group + one outlier -> EPSILON floor flags it
    const = spark.createDataFrame(
        [(i, 5.0) for i in range(9)] + [(99, 6.0)], "id long, v double")
    rc = {r.id: r.is_anomaly for r in (
        PCollection(const)
        | RobustZScoreDetector("v", threshold=3.0)).df.collect()}
    assert rc[99] and not rc[0]
    # vote rules
    vf = spark.createDataFrame(
        [(1, True, True, False), (2, True, False, False),
         (3, None, False, False)],
        "id long, a boolean, b boolean, c boolean")
    for rule, want in (("majority", {1: True, 2: False, 3: False}),
                       ("any", {1: True, 2: True, 3: False}),
                       ("all", {1: False, 2: False, 3: False})):
        got = {r.id: r.flag for r in (
            PCollection(vf) | AnomalyVote(["a", "b", "c"], "flag",
                                          rule)).df.collect()}
        assert got == want, rule
    with pytest.raises(ValueError, match="rule"):
        AnomalyVote(["a"], rule="xor")
    with pytest.raises(ValueError, match="flag"):
        AnomalyVote([])


def test_online_zscore_detector_streaming(spark):
    from beam_spark.ml.anomaly import OnlineZScoreDetector
    from beam_spark.streaming import TestStream, WriteStreamToMemory

    ts = TestStream(spark, "k string, v double")
    ts.add_elements([{"k": "a", "v": float(x)}
                     for x in [10, 11, 9, 10, 11, 10]])   # learn baseline
    ts.add_elements([{"k": "a", "v": 100.0}])             # outlier
    ts.add_elements([{"k": "a", "v": 10.0}])              # normal again

    pc = (ts.stream() | OnlineZScoreDetector("k", "v", threshold=3.0))
    out = pc | WriteStreamToMemory(output_mode="append")
    rows = out.collect()
    anomalies = [r["value"] for r in rows if r["is_anomaly"]]
    assert anomalies == [100.0]
    # state carried across micro-batches: the post-outlier normal value
    # is scored against stats that now include the outlier
    last = [r for r in rows if r["value"] == 10.0 and not r["is_anomaly"]]
    assert last


def test_online_zscore_detector_bounded(spark):
    from beam_spark.ml.anomaly import OnlineZScoreDetector

    pc = (Pipeline(spark)
          | Create([{"k": "a", "v": float(x)}
                    for x in [5, 6, 5, 6, 5, 6, 50]])
          | OnlineZScoreDetector("k", "v", threshold=3.0, min_samples=5))
    rows = pc.collect()
    assert [r["value"] for r in rows if r["is_anomaly"]] == [50.0]


def test_vocabulary_fit_apply_artifact_roundtrip(spark, tmp_path):
    from beam_spark.ml.transforms import (ComputeAndApplyVocabulary,
                                          VocabularyArtifact,
                                          apply_vocabulary)

    train = Pipeline(spark) | Create([{"text": "a b a c"}, {"text": "a b"}])
    op = ComputeAndApplyVocabulary(top_k=2)
    out = train | op
    row = out.collect()[0]
    # a(3) -> 0, b(2) -> 1, c OOV -> -1
    vocab = {r["token"]: r["token_id"] for r in op.vocab_df.collect()}
    assert vocab == {"a": 0, "b": 1}

    art = str(tmp_path / "vocab")
    op.save_artifact(art)
    loaded = VocabularyArtifact.load(spark, art)
    serve = Pipeline(spark) | Create([{"text": "c a b"}])
    applied = apply_vocabulary(serve, loaded)
    assert applied.collect()[0]["token_ids"] == [-1, 0, 1]


def test_apply_vocabulary_join_path_matches_literal(spark):
    """Above literal_max the vocab must go through posexplode +
    broadcast-hash-join (never a giant literal map); both paths agree."""
    from beam_spark.pcollection import Pipeline
    from beam_spark.operators.core import Create
    from beam_spark.ml.transforms import ComputeAndApplyVocabulary, apply_vocabulary

    docs = [{"doc_id": i, "text": t} for i, t in enumerate(
        ["alpha beta gamma", "beta beta delta", "gamma zeta", ""])]
    pc = Pipeline(spark) | Create(docs)
    vocab = ComputeAndApplyVocabulary().fit(pc)

    lit = apply_vocabulary(pc, vocab, literal_max=10_000)
    join = apply_vocabulary(pc, vocab, literal_max=2, id_col="doc_id")
    got_lit = {r["doc_id"]: r["token_ids"] for r in lit.df.collect()}
    got_join = {r["doc_id"]: r["token_ids"] for r in join.df.collect()}
    assert got_lit == got_join
    assert all(i >= -1 for ids in got_join.values() for i in ids)
    plan = join.df._jdf.queryExecution().executedPlan().toString()
    assert "keys: [" not in plan  # no literal map in the join path


def test_apply_buckets_with_interpolation(spark):
    from beam_spark.pcollection import Pipeline
    from beam_spark.operators.core import Create
    from beam_spark.ml.transforms import ApplyBucketsWithInterpolation

    pc = Pipeline(spark) | Create(
        [{"x": v} for v in [-5.0, 0.0, 5.0, 10.0, 15.0, 20.0, 25.0]])
    out = (pc | ApplyBucketsWithInterpolation("x", [0.0, 10.0, 20.0])).df
    got = {r["x"]: r["x_interp"] for r in out.collect()}
    assert got[-5.0] == 0.0 and got[0.0] == 0.0
    assert abs(got[5.0] - 0.25) < 1e-12      # halfway through segment 0
    assert abs(got[10.0] - 0.5) < 1e-12
    assert abs(got[15.0] - 0.75) < 1e-12
    assert got[20.0] == 1.0 and got[25.0] == 1.0


def test_scale_to_gaussian_normalizes(spark):
    """Exponential(1) input -> approximately N(0,1) output; artifact
    boundaries round-trip bit-exact."""
    import numpy as np
    from beam_spark.pcollection import Pipeline
    from beam_spark.operators.core import Create
    from beam_spark.ml.transforms import ScaleToGaussian

    rng = np.random.default_rng(11)
    xs = rng.exponential(1.0, 4000).tolist()
    pc = Pipeline(spark) | Create([{"x": float(v)} for v in xs],
                                  schema="x double")
    op = ScaleToGaussian("x", n_quantiles=64)
    params = op.fit_params(pc)
    applied = (Pipeline(spark) | Create([{"x": float(v)} for v in xs],
                                        schema="x double")
               | ScaleToGaussian("x", boundaries=params["boundaries"]))
    vals = np.array([r["x_gauss"] for r in applied.df.collect()])
    assert abs(vals.mean()) < 0.1
    assert abs(vals.std() - 1.0) < 0.15
    # skewness should collapse from ~2 (exponential) to ~0
    skew = ((vals - vals.mean()) ** 3).mean() / vals.std() ** 3
    assert abs(skew) < 0.4, skew


def test_deduplicate_tensor_per_row(spark):
    from beam_spark.pcollection import Pipeline
    from beam_spark.operators.core import Create
    from beam_spark.ml.transforms import DeduplicateTensorPerRow

    pc = Pipeline(spark) | Create(
        [{"id": 1, "v": [3, 1, 3, 2, 1]}, {"id": 2, "v": []}],
        schema="id long, v array<long>")
    got = {r["id"]: r["v"] for r in (pc | DeduplicateTensorPerRow("v")).df.collect()}
    assert got[1] == [3, 1, 2] and got[2] == []


def test_bpe_train_classic_corpus(spark):
    """The Sennrich et al. worked example: first merges pick the
    most-frequent pair; training is deterministic (lex tie-break)."""
    from beam_spark.ml.bpe import train_bpe

    words = (["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(" ".join(words),)], "text string")
    merges = train_bpe(df, n_merges=5)
    # 'es' (9) -> 'est' (9) -> 'est</w>' (9) -> 'lo' (7) -> 'low' (7)
    assert merges[:5] == [("e", "s"), ("es", "t"), ("est", "</w>"),
                          ("l", "o"), ("lo", "w")]
    assert merges == train_bpe(df, n_merges=5)  # deterministic


def test_bpe_encode_distributed_matches_driver(spark, sf_dir):
    """Distributed BpeEncode equals the driver-side encode_word model on
    real corpus text; artifact save/load round-trips."""
    from beam_spark.ml.bpe import (BpeEncode, encode_word, load_merges,
                                   save_merges, train_bpe)
    from beam_spark.pcollection import PCollection
    import tempfile, os

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    merges = train_bpe(docs, n_merges=60)
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "merges.json")
        save_merges(merges, p)
        assert load_merges(p) == merges

    out = (PCollection(docs) | BpeEncode(merges)).df
    rows = out.select("doc_id", "text", "bpe_tokens", "n_bpe_tokens").collect()
    ranks = {m: i for i, m in enumerate(merges)}
    for r in rows[:10]:
        expect = []
        for w in r["text"].lower().split():
            expect.extend(encode_word(w, ranks))
        assert r["bpe_tokens"] == expect
        assert r["n_bpe_tokens"] == len(expect)
    # merged pieces reconstruct the original words
    joined = "".join(rows[0]["bpe_tokens"]).replace("</w>", " ").strip()
    assert joined == " ".join(rows[0]["text"].lower().split())


def test_run_inference_watch_model_pattern_refresh(spark, tmp_path):
    """WatchFilePattern parity: watch_model_pattern resolves the
    newest matching artifact at every expansion, workers cache per
    (token, path, mtime) — dropping a new artifact changes the
    predictions WITHOUT restarting anything; (mtime, name) tie-break
    picks the lexicographically later file on equal mtimes; an empty
    glob fails fast; handlers without load_model_from raise."""
    import json

    import pytest as _pytest

    from beam_spark.ml.inference import (DeterministicFakeHandler,
                                         ModelHandler, RunInference)
    from beam_spark.pcollection import PCollection

    class FileWeightHandler(ModelHandler):
        share_token = "file-weight"

        def load_model_from(self, path):
            with open(path) as f:
                return json.load(f)["w"]

        def run_inference(self, batch, model):
            return [x * model for x in batch]

    mdir = tmp_path / "models"
    mdir.mkdir()
    (mdir / "m_v1.json").write_text(json.dumps({"w": 2.0}))
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)],
                               "id long, x double")
    pattern = str(mdir / "m_*.json")

    def score():
        return {r["id"]: r["prediction"] for r in
                (PCollection(df) | RunInference(
                    FileWeightHandler(), "x",
                    watch_model_pattern=pattern)).df.collect()}

    assert score() == {1: 20.0, 2: 40.0}          # v1: w=2
    (mdir / "m_v2.json").write_text(json.dumps({"w": 5.0}))
    assert score() == {1: 50.0, 2: 100.0}         # refreshed to v2

    # transiently-empty glob during a refresh keeps resolving to the
    # last seen artifact (Beam WatchFilePattern behavior) instead of
    # killing the pipeline with FileNotFoundError; a NEVER-resolved
    # pattern still fails fast (no stale state to serve)
    import beam_spark.ml.inference as inf_mod
    last = inf_mod._resolve_model_path(spark, pattern)
    assert last[0].endswith("m_v2.json")
    kept = {p.name: p.read_text() for p in mdir.glob("m_*.json")}
    for p in mdir.glob("m_*.json"):
        p.unlink()
    assert inf_mod._resolve_model_path(spark, pattern) == last
    # ...but only for a bounded number of CONSECUTIVE misses: once
    # the artifact looks genuinely deleted (not a transient replace)
    # the stale entry is dropped and resolution fails fast instead of
    # serving a decommissioned model forever
    for _ in range(inf_mod._MAX_EMPTY_RESOLUTIONS - 2):
        assert inf_mod._resolve_model_path(spark, pattern) == last
    with _pytest.raises(FileNotFoundError, match="matched nothing"):
        inf_mod._resolve_model_path(spark, pattern)
    import os as _os

    for name, text in kept.items():
        (mdir / name).write_text(text)
    # pin EQUAL mtimes so resolution exercises the deterministic
    # (mtime, name) tie-break (rewrite order would otherwise decide
    # which file carries the later mtime — a flake)
    for p in mdir.glob("m_*.json"):
        _os.utime(p, (1_700_000_000, 1_700_000_000))
    # a successful resolve resets the miss counter and re-primes
    fresh = inf_mod._resolve_model_path(spark, pattern)
    assert fresh[0] == last[0]

    # max_empty_resolutions=None: Beam WatchFilePattern parity —
    # keep serving the last artifact through ANY number of misses
    for p in mdir.glob("m_*.json"):
        p.unlink()
    for _ in range(inf_mod._MAX_EMPTY_RESOLUTIONS + 2):
        assert inf_mod._resolve_model_path(
            spark, pattern, max_empty_resolutions=None)[0] == fresh[0]
    for name, text in kept.items():
        (mdir / name).write_text(text)
    for p in mdir.glob("m_*.json"):
        _os.utime(p, (1_700_000_100, 1_700_000_100))
    assert inf_mod._resolve_model_path(spark, pattern)[0] == fresh[0]

    # worker cache eviction: a watched refresh evicts the handler's
    # superseded versions OF THE SAME watched lineage; unwatched
    # tokens, other tokens, and the same token under a DIFFERENT
    # pattern all survive (no cross-stage thrash)
    inf_mod._cache_model("tok@p1@", "tok@p1@a@1", "m1", watched=True)
    inf_mod._cache_model("tok@p2@", "tok@p2@x@7", "mx", watched=True)
    inf_mod._cache_model("other", "other", "mo", watched=False)
    inf_mod._cache_model("tok@p1@", "tok@p1@a@2", "m2", watched=True)
    assert "tok@p1@a@1" not in inf_mod._MODEL_CACHE
    assert inf_mod._MODEL_CACHE["tok@p1@a@2"] == "m2"
    assert inf_mod._MODEL_CACHE["tok@p2@x@7"] == "mx"
    assert inf_mod._MODEL_CACHE["other"] == "mo"
    for k in ("tok@p1@a@2", "tok@p2@x@7", "other"):
        del inf_mod._MODEL_CACHE[k]

    with _pytest.raises(Exception, match="matched nothing"):
        (PCollection(df) | RunInference(
            FileWeightHandler(), "x",
            watch_model_pattern=str(mdir / "nope_*.json"))).df.collect()

    with _pytest.raises(Exception, match="load_model_from"):
        (PCollection(df) | RunInference(
            DeterministicFakeHandler(), "x",
            watch_model_pattern=pattern)).df.collect()


def test_target_encode_plain_and_loo(spark):
    """Hand-checked: cats a = [1, 2, 3], b = [10]; global mean = 4.
    m=0 plain: enc(a) = 2, enc(b) = 10; LOO with m=0: row (a, 1) ->
    (2+3)/2 = 2.5, singleton b -> NULL. m=2 plain: enc(a) =
    (6 + 8)/5 = 2.8. NULL target rows get NULL LOO encoding but keep
    the category's plain encoding from non-null rows."""
    import pytest

    from beam_spark.ml.transforms import TargetEncode
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0)],
        "c string, y double")
    plain = {(r.c, r.y): r.c_enc for r in
             (PCollection(df) | TargetEncode("c", "y", m=0.0)).df.collect()}
    assert plain[("a", 1.0)] == 2.0 and plain[("b", 10.0)] == 10.0
    loo = {(r.c, r.y): r.c_enc for r in
           (PCollection(df)
            | TargetEncode("c", "y", m=0.0, loo=True)).df.collect()}
    assert loo[("a", 1.0)] == 2.5
    assert loo[("b", 10.0)] is None        # singleton, m = 0
    sm = {(r.c, r.y): r.c_enc for r in
          (PCollection(df) | TargetEncode("c", "y", m=2.0)).df.collect()}
    assert abs(sm[("a", 1.0)] - (6.0 + 2.0 * 4.0) / 5.0) < 1e-9
    with pytest.raises(ValueError):
        TargetEncode("c", "y", m=-1.0)


def test_naive_bayes_classify_toy_corpus(spark):
    """Separable toy corpus: 'spark shuffle' docs are 'tech', 'pasta
    ragu' docs are 'food'. Held-out docs classify correctly; a doc of
    only OOV tokens is absent from the output; prior dominance: an
    ambiguous doc ties on likelihood and takes the majority class
    with the smallest-label tie-break when priors tie too."""
    import pytest

    from beam_spark.ml.naive_bayes import NaiveBayesClassify
    from beam_spark.pcollection import PCollection

    train = spark.createDataFrame(
        [("tech", "spark shuffle executor"),
         ("tech", "spark codegen shuffle"),
         ("food", "pasta ragu basil"),
         ("food", "pasta olive ragu")],
        "lang string, text string")
    test = spark.createDataFrame(
        [(1, "shuffle spark spark"), (2, "ragu pasta"),
         (3, "zzz qqq"), (4, "spark pasta")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           (PCollection(test)
            | NaiveBayesClassify(train, "lang", "doc_id")).df.collect()}
    assert out[1].predicted == "tech"
    assert out[2].predicted == "food"
    assert 3 not in out                   # all tokens OOV -> dropped
    assert out[4].n_known_tokens == 2
    assert out[4].predicted == "food"     # tie -> smallest label
    assert out[1].n_known_tokens == 3
    assert out[1].score < 0.0             # log-domain
    with pytest.raises(ValueError):
        NaiveBayesClassify(train, "lang", "doc_id", alpha=0.0)


def test_logistic_fit_separable_and_scoring(spark):
    """1D separable data (y = x > 0): after a few GD steps the slope
    is positive and decision_column ranks positives above negatives;
    constructor validation fails fast; NULL rows are excluded."""
    import pytest

    from beam_spark.ml.logistic import LogisticFit
    from beam_spark.pcollection import PCollection

    rows = ([(float(x) / 4.0, True) for x in range(1, 9)]
            + [(-float(x) / 4.0, False) for x in range(1, 9)]
            + [(None, True)])
    df = spark.createDataFrame(rows, "x double, y boolean")
    t = LogisticFit("x", "y", iterations=10, lr=0.5)
    out = {r.term: r.weight for r in (PCollection(df) | t).df.collect()}
    assert set(out) == {"intercept", "x"}
    assert out["x"] > 0.5
    assert abs(out["intercept"]) < 0.2     # symmetric data
    scored = df.where("x IS NOT NULL").withColumn(
        "p", t.decision_column()).collect()
    for r in scored:
        assert (r.p > 0.5) == (r.x > 0), r
    with pytest.raises(ValueError):
        LogisticFit([], "y")
    with pytest.raises(ValueError):
        LogisticFit("x", "y", iterations=0)
    with pytest.raises(ValueError):
        LogisticFit("x", "y", lr=0.0)
    empty = spark.createDataFrame([], "x double, y boolean")
    with pytest.raises(ValueError):
        (PCollection(empty) | LogisticFit("x", "y")).df.collect()


def test_naive_bayes_empty_train_fails_fast(spark):
    import pytest

    from beam_spark.ml.naive_bayes import NaiveBayesClassify
    from beam_spark.pcollection import PCollection

    train = spark.createDataFrame([], "lang string, text string")
    test = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    with pytest.raises(ValueError):
        (PCollection(test)
         | NaiveBayesClassify(train, "lang", "doc_id")).df.collect()


def test_conformal_interval_coverage_and_rank(spark):
    """Calibration residuals 1..9 (pred = 0, actual = i): alpha=0.2
    -> rank ceil(10 * 0.8) = 8 -> q = 8; scored rows get pred +- 8.
    Tiny calibration with strict alpha -> rank > n -> NULL bounds.
    Empirical coverage on the calibration data >= 1 - alpha."""
    import pytest

    from beam_spark.operators.quality import ConformalInterval
    from beam_spark.pcollection import PCollection

    cal = spark.createDataFrame(
        [(0.0, float(i)) for i in range(1, 10)], "pred double, actual double")
    sc = spark.createDataFrame([(1, 100.0), (2, -5.0)],
                               "id int, pred double")
    out = {r.id: r for r in
           (PCollection(sc)
            | ConformalInterval(cal, "pred", "actual", alpha=0.2)
            ).df.collect()}
    assert out[1].lower == 92.0 and out[1].upper == 108.0
    assert out[2].lower == -13.0 and out[2].upper == 3.0
    covered = sum(1 for i in range(1, 10) if abs(i) <= 8.0)
    assert covered / 9 >= 0.8
    tiny = spark.createDataFrame([(0.0, 1.0)], "pred double, actual double")
    out2 = (PCollection(sc)
            | ConformalInterval(tiny, "pred", "actual", alpha=0.05)
            ).df.collect()
    assert all(r.lower is None and r.upper is None for r in out2)
    with pytest.raises(ValueError):
        ConformalInterval(cal, "pred", "actual", alpha=1.0)


def test_information_gain_split_separable_and_degenerate(spark):
    """Perfectly separable at v <= 3 (all positives below): gain = H(p)
    (here p = 0.5 -> gain 1 bit) and split_value 3; constant label ->
    gain 0 at the smallest value; per-key mode isolates slices."""
    from beam_spark.ml.logistic import InformationGainSplit
    from beam_spark.pcollection import PCollection

    rows = ([("sep", float(v), True) for v in (1, 2, 3)]
            + [("sep", float(v), False) for v in (4, 5, 6)]
            + [("const", 1.0, True), ("const", 2.0, True)])
    df = spark.createDataFrame(rows, "k string, v double, y boolean")
    out = {r.k: r for r in
           (PCollection(df)
            | InformationGainSplit("v", "y", keys="k")).df.collect()}
    s = out["sep"]
    assert s.split_value == 3.0 and s.gain == 1.0
    assert (s.n_le, s.pos_le, s.n_gt, s.pos_gt) == (3, 3, 3, 0)
    c = out["const"]
    assert c.gain == 0.0 and c.split_value == 1.0


def test_woe_iv_known_values(spark):
    """Hand-checked with alpha=0: cat a = 3 pos / 1 neg, cat b =
    1 pos / 3 neg (P = N = 4): woe(a) = ln((3/4)/(1/4)) = ln 3,
    woe(b) = -ln 3, iv = (0.75-0.25)*ln3 + (0.25-0.75)*(-ln3) = ln 3;
    one-sided category stays finite with alpha > 0."""
    import math

    from beam_spark.ml.transforms import WoeIv
    from beam_spark.pcollection import PCollection

    rows = ([("a", True)] * 3 + [("a", False)]
            + [("b", True)] + [("b", False)] * 3)
    df = spark.createDataFrame(rows, "c string, y boolean")
    cats = {r.category: r for r in
            (PCollection(df) | WoeIv("c", "y", alpha=0.0)).df.collect()}
    assert abs(cats["a"].woe - math.log(3)) < 1e-9
    assert abs(cats["b"].woe + math.log(3)) < 1e-9
    iv = (PCollection(df)
          | WoeIv("c", "y", alpha=0.0, mode="iv")).df.collect()[0]
    assert iv.n_categories == 2
    assert abs(iv.iv - math.log(3)) < 1e-8
    onesided = spark.createDataFrame(
        [("a", True), ("a", True), ("b", False)], "c string, y boolean")
    out = {r.category: r.woe for r in
           (PCollection(onesided)
            | WoeIv("c", "y", alpha=0.5)).df.collect()}
    assert all(abs(v) < 100 for v in out.values())   # finite
    import pytest
    with pytest.raises(ValueError):
        WoeIv("c", "y", alpha=-1.0)
    with pytest.raises(ValueError):
        WoeIv("c", "y", mode="bogus")


def test_logistic_fit_gradient_overflow_fails_fast(spark):
    """Round-13 ADVICE regression: a gradient term whose magnitude
    exceeds decimal(16,9) (|(p-y)*x/n| >= 1e7 — wildly unscaled
    features) must raise, not silently NULL-skip under non-ANSI
    Spark and bias the fit."""
    import pytest

    from beam_spark.ml.logistic import LogisticFit
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(1.0e9, True), (-1.0e9, False)], "x double, y boolean")
    with pytest.raises(ValueError, match="overflowed"):
        (PCollection(df) | LogisticFit("x", "y", iterations=1)).df


def test_target_encode_null_category_gets_group_encoding(spark):
    """Round-13 ADVICE regression: NULL is a real category — its rows
    group together and receive that group's encoding via the
    null-safe join (plain equality left them NULL)."""
    from beam_spark.ml.transforms import TargetEncode
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 20.0)],
        "c string, y double")
    out = {(r.c, r.y): r.c_enc for r in
           (PCollection(df) | TargetEncode("c", "y", m=0.0)).df.collect()}
    assert out[(None, 10.0)] == 15.0
    assert out[(None, 20.0)] == 15.0
    assert out[("a", 1.0)] == 2.0
    loo = {(r.c, r.y): r.c_enc for r in
           (PCollection(df)
            | TargetEncode("c", "y", m=0.0, loo=True)).df.collect()}
    assert loo[(None, 10.0)] == 20.0 and loo[(None, 20.0)] == 10.0


def test_gbm_stumps_toy_exact_and_scoring(spark):
    """Hand-checked 1-feature LS boosting: y = [0,0,10,10] over
    x = [1,2,3,4], lr=1.0, 1 round. f0 = 5; best split x <= 2
    (gain maximal), leaves -5 / +5; prediction_column returns exact
    fitted values. Validation fails fast; constant feature raises."""
    import pytest

    from beam_spark.ml.gbm import GradientBoostedStumps
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(1.0, 0.0), (2.0, 0.0), (3.0, 10.0), (4.0, 10.0)],
        "x double, y double")
    t = GradientBoostedStumps("x", "y", rounds=1, lr=1.0)
    out = {r["round"]: r for r in (PCollection(df) | t).df.collect()}
    assert out[0].left_value == 5.0
    assert out[1].feature == "x" and out[1].threshold == 2.0
    assert out[1].left_value == -5.0 and out[1].right_value == 5.0
    scored = df.withColumn("p", t.prediction_column()).collect()
    for r in scored:
        assert r.p == r.y, r
    with pytest.raises(ValueError):
        GradientBoostedStumps([], "y")
    with pytest.raises(ValueError):
        GradientBoostedStumps("x", "y", rounds=0)
    with pytest.raises(ValueError):
        GradientBoostedStumps("x", "y", lr=0.0)
    const = spark.createDataFrame([(1.0, 2.0), (1.0, 3.0)],
                                  "x double, y double")
    with pytest.raises(ValueError, match="constant"):
        (PCollection(const) | GradientBoostedStumps("x", "y")).df
    empty = spark.createDataFrame([], "x double, y double")
    with pytest.raises(ValueError, match="empty"):
        (PCollection(empty) | GradientBoostedStumps("x", "y")).df


def test_gbm_stumps_guards(spark):
    """max_distinct fails fast on an un-quantized feature; an
    overflowing target raises loudly instead of NULL-skipping."""
    import pytest

    from beam_spark.ml.gbm import GradientBoostedStumps
    from beam_spark.pcollection import PCollection

    fine = spark.createDataFrame(
        [(float(i), float(i % 7)) for i in range(50)],
        "x double, y double")
    with pytest.raises(ValueError, match="max_distinct"):
        (PCollection(fine)
         | GradientBoostedStumps("x", "y", max_distinct=10)).df
    big = spark.createDataFrame(
        [(1.0, 1.0e9), (2.0, -1.0e9)], "x double, y double")
    with pytest.raises(ValueError, match="overflowed"):
        (PCollection(big) | GradientBoostedStumps("x", "y")).df
    # round-14 ADVICE regression: scoring before any fit raises the
    # actionable ValueError, not AttributeError on f0_
    unfit = GradientBoostedStumps("x", "y")
    with pytest.raises(ValueError, match="fit first"):
        unfit.prediction_column()
    with pytest.raises(ValueError, match="fit first"):
        unfit.prediction_column(model=[("x", 1.0, -1.0, 1.0)])


def test_gbm_distinct_guard_runs_before_the_histogram_collect(
        spark, monkeypatch):
    """An un-quantized feature (5,000 distinct values, max_distinct=10)
    raises without its histogram reaching the driver: no collect
    returns more than len(features) * max_distinct + 1 = 11 rows."""
    from beam_spark.ml.gbm import GradientBoostedStumps
    from beam_spark.pcollection import PCollection

    df = spark.range(5000).selectExpr("CAST(id AS DOUBLE) AS x",
                                      "CAST(id % 7 AS DOUBLE) AS y")
    sizes = []
    collect = type(df).collect

    def spy(self):
        rows = collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(type(df), "collect", spy)
    with pytest.raises(ValueError, match="max_distinct"):
        (PCollection(df)
         | GradientBoostedStumps("x", "y", max_distinct=10)).df
    assert sizes and max(sizes) <= 11, sizes


def test_gbm_driver_memory_fail_fast(spark, monkeypatch):
    """Round-14 (VERDICT #4): a training frame whose eager checkpoint
    would not fit the JVM heap raises an actionable error BEFORE the
    checkpoint instead of an opaque JVM OOM mid-round. Faked by
    shrinking the reported free heap; an unreachable JVM (None)
    stands aside."""
    import pytest

    import beam_spark.ml.gbm as gbm_mod
    from beam_spark.ml.gbm import GradientBoostedStumps
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(float(i % 5), float(i % 7)) for i in range(100)],
        "x double, y double")
    monkeypatch.setattr(gbm_mod, "_available_heap_bytes",
                        lambda spark: 1024)
    with pytest.raises(ValueError, match="driver memory"):
        (PCollection(df) | GradientBoostedStumps("x", "y")).df
    # None (JVM unreachable) must not block training
    monkeypatch.setattr(gbm_mod, "_available_heap_bytes",
                        lambda spark: None)
    out = (PCollection(df) | GradientBoostedStumps(
        "x", "y", rounds=1, lr=1.0)).df
    assert out.count() == 2


def test_feature_hasher_properties(spark):
    """Fixed dimension; equal inputs hash identically; different
    columns with the same value land independently (column name is
    part of the hash key); NULL features contribute zero; the total
    L1 mass equals the non-NULL feature count; validation fails
    fast."""
    import pytest

    from beam_spark.ml.transforms import FeatureHasher
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame(
        [(1, "en", "en"), (2, "en", "de"), (3, None, "en")],
        "id long, a string, b string")
    out = {r.id: r.hashed for r in
           (PCollection(df)
            | FeatureHasher(["a", "b"], n_features=8)).df.collect()}
    assert all(len(v) == 8 for v in out.values())
    assert sum(abs(x) for x in out[1]) == 2.0
    assert sum(abs(x) for x in out[3]) == 1.0    # NULL a drops out
    # same value in different columns: keys differ ('a=en' vs 'b=en')
    r1 = (PCollection(df.where("id = 1"))
          | FeatureHasher("a", n_features=8)).df.collect()[0].hashed
    r2 = (PCollection(df.where("id = 1"))
          | FeatureHasher("b", n_features=8)).df.collect()[0].hashed
    assert r1 != r2 or True  # independent keys MAY collide; no crash
    with pytest.raises(ValueError):
        FeatureHasher([], n_features=8)
    with pytest.raises(ValueError):
        FeatureHasher("a", n_features=1)


def test_feature_hasher_odd_column_names(spark):
    """Round-13/14 polish: column names that are not SQL identifiers
    (spaces, literal dots) must work — the hash key binds via df[c],
    so a dot is part of the NAME, not struct-field access."""
    from beam_spark.ml.transforms import FeatureHasher
    from beam_spark.pcollection import PCollection

    df = spark.createDataFrame([(1, "en")], ["id", "the lang"])
    out = (PCollection(df)
           | FeatureHasher(["the lang"], n_features=8)).df.collect()
    assert sum(abs(x) for x in out[0].hashed) == 1.0

    dotted = spark.createDataFrame([(1, "en")], ["id", "a.b"])
    out2 = (PCollection(dotted)
            | FeatureHasher(["a.b"], n_features=8)).df.collect()
    assert sum(abs(x) for x in out2[0].hashed) == 1.0


def test_isolation_forest_per_group_semantics(spark):
    """Round-15 per-group forests: a value that is NORMAL in group B
    is the top anomaly of group A when A's distribution is tight
    elsewhere — the pooled forest structurally can't express that.
    NULL group rows score NULL; group fail-fasts fire."""
    import numpy as np
    import pytest

    from beam_spark.ml.iforest import IsolationForest
    from beam_spark.pcollection import PCollection

    rng = np.random.default_rng(2)
    rows = [(i, "a", float(rng.normal(0, 1))) for i in range(150)]
    rows += [(i, "b", float(rng.normal(100, 1))) for i in range(200, 350)]
    # 100.0 is dead-center for group b, extreme for group a
    rows += [(900, "a", 100.0), (901, "b", 100.0), (902, None, 1.0)]
    df = spark.createDataFrame(rows, "id long, g string, x double")
    t = IsolationForest("x", id_col="id", group_col="g",
                        trees=8, depth=6, seed=7)
    out = {r.id: r for r in (PCollection(df) | t).df.collect()}
    a_scores = {k: v.iforest_score for k, v in out.items()
                if v.g == "a" and v.iforest_score is not None}
    assert max(a_scores, key=a_scores.get) == 900
    # the same value inside group b is unremarkable: nowhere near b's top
    b_scores = {k: v.iforest_score for k, v in out.items()
                if v.g == "b" and v.iforest_score is not None}
    b_rank_901 = sorted(b_scores, key=lambda k: -b_scores[k]).index(901)
    assert b_rank_901 > 10
    assert out[902].iforest_score is None  # NULL group -> NULL score
    assert sorted(t.model_["groups"]) == ["a", "b"]
    # fail-fasts: group cardinality and the grouped size cap
    with pytest.raises(ValueError, match="max_groups"):
        (PCollection(df.selectExpr("id", "CAST(id AS STRING) AS g", "x"))
         | IsolationForest("x", id_col="id", group_col="g",
                           max_groups=4)).df
    with pytest.raises(ValueError, match="4096"):
        # id-as-group: ~300 groups pass max_groups but blow the
        # groups * trees * 2^depth collect/when-tree cap
        (PCollection(df.selectExpr("id", "CAST(id AS STRING) AS g", "x"))
         | IsolationForest("x", id_col="id", group_col="g",
                           trees=8, depth=8, max_groups=100000)).df


def test_isolation_forest_oblique_semantics(spark):
    """Round-15 extended (oblique) isolation forest: planted extremes
    still take the top scores, results are deterministic across
    partitionings, and on a diagonally-correlated cloud an on-diagonal
    far point and an off-diagonal near point both isolate — the
    off-diagonal one is the case axis-parallel cuts blur (ghost
    regions); here it must outrank the cloud's own tail."""
    import numpy as np

    from beam_spark.ml.iforest import IsolationForest
    from beam_spark.pcollection import PCollection

    rng = np.random.default_rng(3)
    # tight diagonal cloud: x ~ N(0,1), y = x + small noise
    xs = rng.normal(0, 1, 300)
    rows = [(i, float(x), float(x + rng.normal(0, 0.05)))
            for i, x in enumerate(xs)]
    # off-diagonal anomaly INSIDE the marginal ranges (each coordinate
    # unremarkable on its own — only the joint is wrong)
    rows += [(900, 1.5, -1.5)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    t = IsolationForest(["x", "y"], id_col="id", trees=8, depth=6,
                        seed=7, oblique=True)
    out = {r.id: r.iforest_score for r in
           (PCollection(df) | t).df.collect()}
    scores = {k: v for k, v in out.items() if v is not None}
    rank_900 = sorted(scores, key=lambda k: -scores[k]).index(900)
    assert rank_900 < 5, rank_900
    out2 = {r.id: r.iforest_score for r in
            (PCollection(df.repartition(7))
             | IsolationForest(["x", "y"], id_col="id", trees=8,
                               depth=6, seed=7, oblique=True)).df.collect()}
    assert out2 == out
    # oblique composes with per-group fitting
    df2 = df.selectExpr("id", "CAST(id % 2 AS STRING) AS g", "x", "y")
    outg = (PCollection(df2) | IsolationForest(
        ["x", "y"], id_col="id", group_col="g", trees=4, depth=4,
        seed=7, oblique=True)).df
    assert outg.where("iforest_score IS NOT NULL").count() == 301
