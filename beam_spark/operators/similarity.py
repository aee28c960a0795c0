"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; hyperplane-LSH-bucketed
candidate generation as the scale path; embedding-cosine near-dup pairs
for dedup. The reference's nearest analog is the RAG vector-search
enrichment (ml/rag/enrichment/bigquery_vector_search.py, milvus_search.py)
which delegates to an external ANN service — here the index is the
DataFrame itself.

Scale design:
* dot products via zip_with + aggregate — JVM higher-order functions,
  no Python, deterministic left-to-right accumulation.
* norms computed once per side before the join (not per pair).
* brute force is an O(N*M) broadcast-join: right for M (query set) small.
* LshTopK buckets both sides by sign-bit sketches of deterministic
  pseudo-random hyperplanes; only same-bucket pairs are scored. Recall
  is tunable with n_planes (fewer planes = bigger buckets) — the
  standard random-hyperplane LSH for cosine (Charikar'02).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beam_spark.pcollection import PCollection, PTransform


#: default ceiling on how many query vectors the TopK operators will
#: collect to the driver (the query matrix rides in every task closure)
QUERY_MAX_ROWS = 1_000_000


def _collect_queries(df: DataFrame, cols: list[str], max_rows: int,
                     op_name: str) -> list:
    """Driver-side query materialization with a fail-fast cap: the
    TopK operators are designed for a BOUNDED query set scored against
    an unbounded corpus; pointing a corpus-sized frame at ``queries=``
    should be an actionable error, not a driver OOM. Same posture as
    EmbeddingNearDupPairs' brute_max_rows guard."""
    rows = df.select(*cols).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{op_name}: the query set exceeds query_max_rows="
            f"{max_rows:,} vectors (it is collected to the driver and "
            "shipped in task closures). Score fewer queries per call, "
            "raise query_max_rows deliberately, or keep both sides "
            "distributed with LshCosineTopK / IvfCosineTopK.")
    return rows


def lit_double_array(values) -> Column:
    """array<double> literal built in ONE expression parse. The
    per-element ``F.array(*[F.lit(x) ...])`` chain costs one py4j
    round-trip per element — at dim 64 that makes literal-heavy plan
    CONSTRUCTION (k-means assignment, LSH planes, PCA loadings) the
    driver-side bottleneck (measured 5x slower than a single parsed
    expression). ``repr(float)`` round-trips doubles exactly and SQL
    string->double casting is correctly rounded, so the realized
    literals are bit-identical to the F.lit path."""
    vals = [float(x) for x in values]
    if not vals or not all(math.isfinite(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr(
        "array(" + ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in vals) + ")")


def dot(a: Column, b: Column) -> Column:
    """Deterministic dot product of two array columns (double result)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"),
                              lambda acc, v: acc + v.cast("double") * v))


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot(a, b) / (norm_a * norm_b)


def _hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _sketch(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit sketch as BIGINT: bit p set iff dot(vec, plane_p) > 0."""
    bits = None
    for p, plane in enumerate(planes):
        lit_plane = lit_double_array(plane)
        bit = F.when(dot(vec, lit_plane) > 0,
                     F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, p)
        bits = term if bits is None else bits.bitwiseXOR(term)
    return bits


class BruteForceCosineTopK(PTransform):
    """Exact top-k neighbors for each query vector.

    The query set (small) is collected to a numpy matrix and shipped in
    the task closure; each Arrow batch of the corpus computes a
    batch x query BLAS matmul and emits only its per-batch top-k rows per
    query (argpartition prune), so the shuffled intermediate is bounded by
    k * n_queries * n_batches regardless of corpus size. A final window
    top-k merges batch winners — the TakeOrdered pattern with vectorized
    scoring.
    """

    def __init__(self, queries: DataFrame | PCollection, k: int = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str | None = None, exclude_self: bool = True,
                 query_max_rows: int | None = None, label=None):
        super().__init__(label)
        self.queries = queries.df if isinstance(queries, PCollection) else queries
        self.k, self.id_col, self.vec_col = k, id_col, vec_col
        self.query_id_col = query_id_col or id_col
        self.exclude_self = exclude_self
        self.query_max_rows = query_max_rows or QUERY_MAX_ROWS

    def expand(self, pcoll: PCollection) -> PCollection:
        import numpy as np
        import pandas as pd
        from pyspark.sql import Window

        k, idc, vc = self.k, self.id_col, self.vec_col
        exclude_self = self.exclude_self
        qrows = _collect_queries(
            self.queries, [self.query_id_col, vc],
            self.query_max_rows, "BruteForceCosineTopK")
        q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
        q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
        q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

        def gen(batches):
            for pdf in batches:
                ids = pdf[idc].to_numpy(dtype=np.int64)
                mat = np.array(list(pdf[vc]), dtype=np.float64)
                mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
                scores = q_mat @ mat.T  # (n_queries, batch)
                if exclude_self:
                    mask = q_ids[:, None] == ids[None, :]
                    scores = np.where(mask, -np.inf, scores)
                top = min(k, scores.shape[1])
                idx = np.argpartition(-scores, top - 1, axis=1)[:, :top]
                out = {"query_id": np.repeat(q_ids, top),
                       "nbr_id": ids[idx].ravel(),
                       "cosine": np.take_along_axis(scores, idx, 1).ravel()}
                pdf_out = pd.DataFrame(out)
                yield pdf_out[pdf_out["cosine"] > -np.inf]

        partial = pcoll.df.select(idc, vc).mapInPandas(
            gen, schema="query_id long, nbr_id long, cosine double")
        w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                   F.col("nbr_id"))
        out = (partial.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k)
               .select("query_id", "nbr_id", "rank",
                       F.round("cosine", 6).alias("cosine")))
        return pcoll.with_df(out)


class KNeighborsClassify(PTransform):
    """k-nearest-neighbor classification over an embedding column —
    the label-propagation serving primitive (classify new vectors
    against a labeled corpus, e.g. routing new documents to the
    cluster/language/domain of their nearest labeled neighbors).

    Composition, not a new kernel: BruteForceCosineTopK finds each
    query's k cosine neighbors in the labeled corpus (broadcast
    queries, one scan, per-batch argpartition prune), a
    vocabulary-bounded join attaches labels, and the vote is one
    groupBy + rank. Swap the neighbor stage for Lsh/IvfCosineTopK
    when the query set is large (same downstream vote).

    Vote is deterministic and integer-exact: predicted = the label
    with (most votes, then nearest best-rank neighbor, then smallest
    label string) — no float compare in the argmax. NULL-label
    corpus rows are excluded from voting.

    Output: (query_id, predicted, votes, best_rank) — one row per
    query that found >= 1 labeled neighbor.
    """

    def __init__(self, queries, k: int = 5, id_col: str = "vec_id",
                 vec_col: str = "embedding", label_col: str = "label",
                 query_id_col: str | None = None,
                 exclude_self: bool = True, label=None):
        super().__init__(label)
        from beam_spark.pcollection import PCollection as _PC

        self.queries = (queries.df if isinstance(queries, _PC)
                        else queries)
        self.k = int(k)
        if self.k < 1:
            raise ValueError("k must be >= 1")
        self.id_col, self.vec_col = id_col, vec_col
        self.label_col = label_col
        self.query_id_col = query_id_col
        self.exclude_self = exclude_self

    def expand(self, pcoll: PCollection) -> PCollection:
        from pyspark.sql import Window

        idc, lc = self.id_col, self.label_col
        nbrs = (pcoll | BruteForceCosineTopK(
            self.queries, k=self.k, id_col=idc,
            vec_col=self.vec_col, query_id_col=self.query_id_col,
            exclude_self=self.exclude_self)).df
        labels = pcoll.df.where(F.col(lc).isNotNull()).select(
            F.col(idc).alias("nbr_id"),
            F.col(lc).cast("string").alias("__lbl"))
        votes = (nbrs.join(labels, "nbr_id")
                 .groupBy("query_id", "__lbl")
                 .agg(F.count(F.lit(1)).cast("long").alias("votes"),
                      F.min("rank").alias("best_rank")))
        w = Window.partitionBy("query_id").orderBy(
            F.col("votes").desc(), F.col("best_rank").asc(),
            F.col("__lbl").asc())
        out = (votes.withColumn("__r", F.row_number().over(w))
               .where("__r = 1")
               .select("query_id", F.col("__lbl").alias("predicted"),
                       "votes", "best_rank"))
        return pcoll.with_df(out)


class LshCosineTopK(PTransform):
    """Approximate top-k: hyperplane sign-bucket join, then exact scoring
    within buckets. Multi-probe: queries also probe buckets at hamming
    distance 1 (flip one bit), trading k*n_planes bucket keys for recall."""

    def __init__(self, queries: DataFrame | PCollection, k: int = 10,
                 n_planes: int = 8, id_col: str = "vec_id",
                 vec_col: str = "embedding", dim: int = 64,
                 multi_probe: bool = True, exclude_self: bool = True,
                 probe_all: bool = False, label=None):
        super().__init__(label)
        self.queries = queries.df if isinstance(queries, PCollection) else queries
        self.k, self.n_planes, self.dim = k, n_planes, dim
        self.id_col, self.vec_col = id_col, vec_col
        self.multi_probe, self.exclude_self = multi_probe, exclude_self
        #: probe every bucket — exhaustive mode: provably exact (equals
        #: brute force), used by the correctness gate to value-verify the
        #: bucket/score/rerank machinery end to end.
        self.probe_all = probe_all

    def expand(self, pcoll: PCollection) -> PCollection:
        from pyspark.sql import Window

        planes = _hyperplanes(self.n_planes, self.dim)
        corpus = (pcoll.df
                  .select(F.col(self.id_col).alias("nbr_id"),
                          F.col(self.vec_col).alias("nbr_vec"))
                  .withColumn("nbr_norm", norm(F.col("nbr_vec")))
                  .withColumn("bucket", _sketch(F.col("nbr_vec"), planes)))
        qs = (self.queries
              .select(F.col(self.id_col).alias("query_id"),
                      F.col(self.vec_col).alias("q_vec"))
              .withColumn("q_norm", norm(F.col("q_vec")))
              .withColumn("bucket0", _sketch(F.col("q_vec"), planes)))
        if self.probe_all:
            probes = F.array(*[F.lit(b) for b in range(1 << self.n_planes)])
        elif self.multi_probe:
            probes = F.array(F.col("bucket0"), *[
                F.col("bucket0").bitwiseXOR(F.lit(1 << p))
                for p in range(self.n_planes)])
        else:
            probes = F.array(F.col("bucket0"))
        qs = qs.select("query_id", "q_vec", "q_norm",
                       F.explode(probes).alias("bucket"))
        scored = (corpus.join(F.broadcast(qs), on="bucket")
                  .withColumn("cosine", cosine(F.col("q_vec"), F.col("nbr_vec"),
                                               F.col("q_norm"), F.col("nbr_norm"))))
        if self.exclude_self:
            scored = scored.filter(F.col("query_id") != F.col("nbr_id"))
        w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                   F.col("nbr_id"))
        out = (scored.select("query_id", "nbr_id", "cosine").distinct()
               .withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= self.k)
               .select("query_id", "nbr_id", "rank",
                       F.round("cosine", 6).alias("cosine")))
        return pcoll.with_df(out)


class EmbeddingNearDupPairs(PTransform):
    """All pairs with cosine >= threshold (embedding near-dup dedup).

    strategy='lsh' buckets by sign sketch first (misses only pairs whose
    sketches differ in every bucket — tune n_planes); 'brute' is exact.
    """

    #: brute mode fails fast past this corpus size (closure-shipped
    #: matrix; ~0.5 GB per 1M x 64 doubles) — use strategy='lsh' beyond.
    BRUTE_MAX_ROWS = 2_000_000

    def __init__(self, threshold: float = 0.9, strategy: str = "lsh",
                 n_planes: int = 6, id_col: str = "vec_id",
                 vec_col: str = "embedding", dim: int = 64,
                 brute_max_rows: int | None = None, label=None):
        super().__init__(label)
        self.threshold, self.strategy = threshold, strategy
        self.n_planes, self.dim = n_planes, dim
        self.id_col, self.vec_col = id_col, vec_col
        self.brute_max_rows = brute_max_rows or self.BRUTE_MAX_ROWS

    def expand(self, pcoll: PCollection) -> PCollection:
        import numpy as np
        import pandas as pd

        idc, vc, threshold = self.id_col, self.vec_col, self.threshold
        if self.strategy == "brute":
            # One side rides in the closure as a normalized numpy matrix
            # (fits executor memory up to ~10M x 64 vectors); each Arrow
            # batch of the distributed side does a BLAS matmul against it.
            # Beyond closure scale, use strategy='lsh' (both sides stay
            # distributed, bucketed by sketch).
            rows = pcoll.df.select(idc, vc).limit(
                self.brute_max_rows + 1).collect()
            if len(rows) > self.brute_max_rows:
                raise ValueError(
                    f"strategy='brute' caps at {self.brute_max_rows} "
                    "vectors (driver/closure materialization); use "
                    "strategy='lsh' at this scale")
            all_ids = np.array([r[0] for r in rows], dtype=np.int64)
            all_mat = np.array([r[1] for r in rows], dtype=np.float64)
            all_mat = all_mat / np.linalg.norm(all_mat, axis=1, keepdims=True)

            def gen(batches):
                for pdf in batches:
                    ids = pdf[idc].to_numpy(dtype=np.int64)
                    mat = np.array(list(pdf[vc]), dtype=np.float64)
                    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
                    scores = mat @ all_mat.T  # (batch, N)
                    ii, jj = np.nonzero(
                        (scores >= threshold) & (ids[:, None] < all_ids[None, :]))
                    if len(ii):
                        yield pd.DataFrame({
                            "i": ids[ii], "j": all_ids[jj],
                            "cosine": np.round(scores[ii, jj], 6)})

            out = pcoll.df.select(idc, vc).mapInPandas(
                gen, schema="i long, j long, cosine double")
            return pcoll.with_df(out)

        planes = _hyperplanes(self.n_planes, self.dim)
        side = (pcoll.df
                .select(F.col(idc).alias("id"), F.col(vc).alias("vec"))
                .withColumn("nrm", norm(F.col("vec")))
                .withColumn("bucket", _sketch(F.col("vec"), planes)))
        a = side.select(F.col("id").alias("i"), F.col("vec").alias("vi"),
                        F.col("nrm").alias("ni"), "bucket")
        b = side.select(F.col("id").alias("j"), F.col("vec").alias("vj"),
                        F.col("nrm").alias("nj"), "bucket")
        out = (a.join(b, on=["bucket"]).filter(F.col("i") < F.col("j"))
               .withColumn("cosine", cosine(F.col("vi"), F.col("vj"),
                                            F.col("ni"), F.col("nj")))
               .filter(F.col("cosine") >= threshold)
               .select("i", "j", F.round("cosine", 6).alias("cosine")))
        return pcoll.with_df(out)


class SemDeDup(PTransform):
    """Semantic deduplication (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with a coarse
    quantizer, then — WITHIN each cluster only — mark a point as a
    duplicate when it has cosine >= ``threshold`` with an earlier-id
    point of the same cluster. The earlier point survives as the
    canonical representative; downstream drops ``is_dup = 1`` rows.

    The quadratic pair scan is confined to one cluster (the SemDeDup
    design point: n_clusters scales with corpus size so cluster
    populations stay bounded; the paper uses K ~ sqrt(N)). No
    reference-repo counterpart — this extends the training-data surface.

    Clustering: deterministic seed centroids (the ``n_clusters``
    smallest-id vectors, normalized) so the result is a pure function of
    the data — the mode the DuckDB oracle replicates. ``lloyd_iters > 0``
    refines the seeds with numpy Lloyd rounds over a bounded
    deterministic sample (same scheme as IvfCosineTopK) for better
    balance at the cost of oracle reproducibility.

    ``n_clusters=None`` (recommended at scale) sizes K ~= sqrt(N) from
    one cheap count — the paper's design point, keeping the expected
    per-cluster population (and so the quadratic pair scan) at ~sqrt(N).
    ``max_cluster_rows`` is the hot-cluster fail-fast: after assignment,
    if any single cluster holds more rows, raise with the measured
    population instead of silently launching a cluster-sized
    self-join (the EmbeddingNearDupPairs posture — the all-pairs
    explosion this operator exists to avoid). Set None to disable.

    Scale: seeds/centroids are a K x dim closure matrix (bounded);
    assignment is a zero-shuffle projection (JVM expression argmax over
    dot products); the intra-cluster self-join shuffles on cluster_id
    only. Output is one row per input vector: (id, cluster_id, is_dup).
    """

    MAX_SEED_COLLECT = 4096
    MAX_CLUSTER_ROWS = 100_000

    def __init__(self, n_clusters: int | None = None,
                 threshold: float = 0.35,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 lloyd_iters: int = 0, fit_sample: int = 2048,
                 max_cluster_rows: int | None = MAX_CLUSTER_ROWS,
                 label=None):
        super().__init__(label)
        if n_clusters is not None and n_clusters > self.MAX_SEED_COLLECT:
            raise ValueError(
                f"n_clusters caps at {self.MAX_SEED_COLLECT} (centroids "
                "ride in the task closure)")
        self.n_clusters = None if n_clusters is None else int(n_clusters)
        self.threshold = threshold
        self.id_col, self.vec_col = id_col, vec_col
        self.lloyd_iters, self.fit_sample = lloyd_iters, fit_sample
        self.max_cluster_rows = max_cluster_rows

    def _centroids(self, df, k):
        """(sids, matrix): seed ids + row-normalized float64 centroids."""
        import numpy as np

        rows = (df.select(self.id_col, self.vec_col)
                .orderBy(self.id_col).limit(k).collect())
        sids = [int(r[0]) for r in rows]
        C = np.array([r[1] for r in rows], dtype=np.float64)
        C = C / np.linalg.norm(C, axis=1, keepdims=True)
        if self.lloyd_iters:
            sample = (df.select(self.vec_col)
                      .orderBy(F.xxhash64(self.id_col))
                      .limit(self.fit_sample).collect())
            X = np.array([r[0] for r in sample], dtype=np.float64)
            X = X / np.linalg.norm(X, axis=1, keepdims=True)
            for _ in range(self.lloyd_iters):
                assign = (X @ C.T).argmax(axis=1)
                for c in range(len(C)):
                    members = X[assign == c]
                    if len(members):
                        m = members.mean(axis=0)
                        C[c] = m / (np.linalg.norm(m) or 1.0)
        return sids, C

    def expand(self, pcoll: PCollection) -> PCollection:
        idc, vc, threshold = self.id_col, self.vec_col, self.threshold
        k = self.n_clusters
        if k is None:
            # the paper's design point: K ~= sqrt(N) keeps expected
            # per-cluster population (the quadratic scan width) ~sqrt(N)
            n = pcoll.df.count()
            k = max(1, min(self.MAX_SEED_COLLECT,
                           int(math.isqrt(max(n - 1, 0))) + 1))
        sids, C = self._centroids(pcoll.df, k)

        # argmax over dot(vec, normalized-centroid) == argmax cosine
        # (row norm is a positive per-row constant). Centroid literals are
        # double, so zip_with products run in double. First-max index on
        # ties == smallest seed id (seeds are id-ordered).
        dots = F.array(*[dot(F.col("vec"), lit_double_array(row))
                         for row in C])
        sid_arr = F.array(*[F.lit(s).cast("long") for s in sids])
        assigned = (pcoll.df
                    .select(F.col(idc).alias("id"),
                            F.col(vc).cast("array<double>").alias("vec"))
                    .withColumn("cluster_id", F.element_at(
                        sid_arr,
                        F.array_position(dots, F.array_max(dots)).cast("int")))
                    .withColumn("nrm", norm(F.col("vec"))))

        if self.max_cluster_rows is not None:
            # the guard is an EAGER aggregation; pin the assignment so
            # the guard scan, and the pair join that follows, reuse one
            # computation of the K-way dot-product argmax instead of
            # re-running it per consumer
            assigned = self.pin(assigned, pcoll)
            hot = (assigned.groupBy("cluster_id")
                   .agg(F.count(F.lit(1)).alias("n"))
                   .agg(F.max("n"), F.sum("n")).collect()[0])
            biggest, total = int(hot[0] or 0), int(hot[1] or 0)
            if biggest > self.max_cluster_rows:
                raise ValueError(
                    f"SemDeDup hot-cluster guard: largest cluster holds "
                    f"{biggest} of {total} rows (> max_cluster_rows="
                    f"{self.max_cluster_rows}); the intra-cluster scan "
                    f"is quadratic per cluster. Raise n_clusters "
                    f"(or leave it None for K~=sqrt(N)), add "
                    f"lloyd_iters>0 for balance, or raise "
                    f"max_cluster_rows explicitly.")

        a = assigned.select(F.col("id").alias("i"), F.col("vec").alias("vi"),
                            F.col("nrm").alias("ni"), "cluster_id")
        b = assigned.select(F.col("id").alias("j"), F.col("vec").alias("vj"),
                            F.col("nrm").alias("nj"), "cluster_id")
        dup_ids = (a.join(b, on="cluster_id")
                   .filter((F.col("j") < F.col("i"))
                           & (cosine(F.col("vi"), F.col("vj"),
                                     F.col("ni"), F.col("nj")) >= threshold))
                   .select("i").distinct())
        out = (assigned
               .join(dup_ids.withColumn("__dup", F.lit(1)),
                     assigned["id"] == dup_ids["i"], "left")
               .select(F.col("id").alias(idc), "cluster_id",
                       F.coalesce(F.col("__dup"), F.lit(0)).alias("is_dup")))
        return pcoll.with_df(out)


class IvfCosineTopK(PTransform):
    """IVF-flat approximate top-k: corpus assigned to inverted lists by
    nearest centroid; queries probe the ``nprobe`` nearest lists and score
    only those candidates — the standard coarse-quantizer ANN layout
    (FAISS IVF-flat), expressed as a bucketed join.

    Centroids: deterministic sample of ``n_lists`` corpus vectors refined
    with a few Lloyd iterations driver-side (numpy over a bounded sample)
    — the 'fit' artifact is a small matrix, broadcast in closures.
    Assignment/scoring run vectorized per Arrow batch. At 100 TB the
    corpus assignment is one scan; per-query work is nprobe/n_lists of
    the corpus, shuffled only on the list id.

    ``max_list_rows`` (opt-in): after assignment, fail fast if any
    single inverted list holds more rows — the hot-list failure mode
    where one dominant direction swallows the corpus and every query
    probing that list scans most of it (the SemDeDup guard posture;
    opt-in here because the per-query cost is linear, not quadratic,
    and the check is an extra eager aggregation).
    """

    def __init__(self, queries: DataFrame | PCollection, k: int = 10,
                 n_lists: int = 16, nprobe: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 fit_sample: int = 2048, lloyd_iters: int = 5,
                 exclude_self: bool = True,
                 max_list_rows: int | None = None, label=None):
        super().__init__(label)
        self.queries = queries.df if isinstance(queries, PCollection) else queries
        self.k, self.n_lists, self.nprobe = k, n_lists, nprobe
        self.id_col, self.vec_col = id_col, vec_col
        self.fit_sample, self.lloyd_iters = fit_sample, lloyd_iters
        self.exclude_self = exclude_self
        self.max_list_rows = max_list_rows

    def _fit_centroids(self, df):
        import numpy as np

        sample = (df.select(self.vec_col)
                  .orderBy(F.xxhash64(self.id_col))  # deterministic sample
                  .limit(self.fit_sample).collect())
        X = np.array([r[0] for r in sample], dtype=np.float64)
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        C = X[: self.n_lists].copy()
        for _ in range(self.lloyd_iters):
            assign = (X @ C.T).argmax(axis=1)  # cosine on normalized = dot
            for c in range(self.n_lists):
                members = X[assign == c]
                if len(members):
                    m = members.mean(axis=0)
                    C[c] = m / (np.linalg.norm(m) or 1.0)
        return C

    def expand(self, pcoll: PCollection) -> PCollection:
        import numpy as np
        import pandas as pd
        from pyspark.sql import Window

        idc, vc, k, nprobe = self.id_col, self.vec_col, self.k, self.nprobe
        exclude_self = self.exclude_self
        C = self._fit_centroids(pcoll.df)

        def assign_gen(batches):
            for pdf in batches:
                mat = np.array(list(pdf[vc]), dtype=np.float64)
                mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
                lists = (mat @ C.T).argmax(axis=1)
                out = pdf[[idc]].copy()
                # emit the NORMALIZED vector: the scored join then needs
                # only a dot product — no per-candidate norm recompute
                out[vc] = list(mat)
                out["list_id"] = lists.astype(np.int32)
                yield out

        corpus = pcoll.df.select(idc, vc).mapInPandas(
            assign_gen, schema=f"{idc} long, {vc} array<double>, list_id int")

        if self.max_list_rows is not None:
            corpus = self.pin(corpus, pcoll)
            hot = (corpus.groupBy("list_id")
                   .agg(F.count(F.lit(1)).alias("n"))
                   .agg(F.max("n"), F.sum("n")).collect()[0])
            biggest, total = int(hot[0] or 0), int(hot[1] or 0)
            if biggest > self.max_list_rows:
                raise ValueError(
                    f"IVF hot-list guard: largest inverted list holds "
                    f"{biggest} of {total} rows (> max_list_rows="
                    f"{self.max_list_rows}); queries probing it scan "
                    f"most of the corpus. Raise n_lists, increase "
                    f"lloyd_iters/fit_sample for balance, or raise "
                    f"max_list_rows explicitly.")

        def probe_gen(batches):
            for pdf in batches:
                mat = np.array(list(pdf[vc]), dtype=np.float64)
                mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
                order = np.argsort(-(mat @ C.T), axis=1)[:, :nprobe]
                rows = []
                for i in range(len(pdf)):
                    for l in order[i]:
                        rows.append({"query_id": pdf[idc].iloc[i],
                                     "q_vec": list(mat[i]),
                                     "list_id": int(l)})
                yield pd.DataFrame(rows)

        qs = self.queries.select(idc, vc).mapInPandas(
            probe_gen, schema="query_id long, q_vec array<double>, list_id int")

        joined = corpus.join(F.broadcast(qs), on="list_id")
        # both sides pre-normalized in their mapInPandas pass: cosine is a
        # plain dot product (no norms in the join hot path)
        scored = joined.withColumn("cosine", dot(F.col("q_vec"), F.col(vc)))
        if exclude_self:
            scored = scored.filter(F.col("query_id") != F.col(idc))
        w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                   F.col(idc))
        out = (scored.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k)
               .select("query_id", F.col(idc).alias("nbr_id"), "rank",
                       F.round("cosine", 6).alias("cosine")))
        return pcoll.with_df(out)


class PqCosineTopK(PTransform):
    """Product-quantization ANN (Jegou, Douze & Schmid, TPAMI 2011 —
    "Product Quantization for Nearest Neighbor Search"; the PQ/ADC
    half of the FAISS IVF-PQ layout). Where LSH/IVF prune WHICH rows a
    query scores, PQ shrinks WHAT the scan reads: a D-dim float64
    vector (D*8 bytes) becomes ``m`` one-byte centroid codes, so the
    exhaustive scan touches ~D*8/m x fewer bytes — the scale lever
    when the corpus is too big to keep raw vectors hot.

    fit (driver, bounded deterministic sample): normalized vectors
    split into ``m`` subvectors; per-subspace Lloyd k-means of ``ks``
    centroids -> an (m, ks, D/m) codebook, broadcast in closures.

    encode (one corpus scan, Arrow-batched): each subvector maps to
    its nearest centroid id — m small ints per vector.

    scan (asymmetric distance computation): per query, one (m, ks)
    table of query-subvector x centroid dot products; a code scores as
    the sum of m table lookups — vectors are never reconstructed. Each
    batch emits only its top-``rerank_factor * k`` candidate rows per
    query, so the shuffled intermediate is candidates * queries *
    batches regardless of corpus size.

    rerank: the global candidate set (a broadcast — it is tiny)
    semi-joins back to the TRUE vectors and exact JVM-side cosine
    picks the final top-k — the standard PQ-then-exact-rerank recipe:
    reported scores are EXACT; only recall is approximate (tunable
    with m/ks/rerank_factor).

    Output: (query_id, nbr_id, rank, cosine), rank over (cosine DESC,
    nbr_id) like the other ANN operators.
    """

    def __init__(self, queries: DataFrame | PCollection, k: int = 10,
                 m: int = 8, ks: int = 16, rerank_factor: int = 4,
                 fit_sample: int = 2048, lloyd_iters: int = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 exclude_self: bool = True,
                 query_max_rows: int | None = None, label=None):
        super().__init__(label)
        self.queries = (queries.df if isinstance(queries, PCollection)
                        else queries)
        self.query_max_rows = query_max_rows or QUERY_MAX_ROWS
        self.k, self.m, self.ks = k, int(m), int(ks)
        self.rerank_factor = int(rerank_factor)
        self.fit_sample, self.lloyd_iters = fit_sample, lloyd_iters
        self.id_col, self.vec_col = id_col, vec_col
        self.exclude_self = exclude_self

    def _fit_codebooks(self, df):
        import numpy as np

        sample = (df.select(self.vec_col)
                  .orderBy(F.xxhash64(self.id_col))  # deterministic
                  .limit(self.fit_sample).collect())
        X = np.array([r[0] for r in sample], dtype=np.float64)
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        D = X.shape[1]
        if D % self.m:
            raise ValueError(
                f"vector dim {D} not divisible by m={self.m} subspaces")
        sub = D // self.m
        books = np.empty((self.m, self.ks, sub), dtype=np.float64)
        for s in range(self.m):
            Xs = X[:, s * sub:(s + 1) * sub]
            C = Xs[: self.ks].copy()
            if len(C) < self.ks:          # tiny corpus: pad by cycling
                C = np.resize(C, (self.ks, sub))
            for _ in range(self.lloyd_iters):
                d2 = (((Xs[:, None, :] - C[None, :, :]) ** 2).sum(-1))
                a = d2.argmin(axis=1)
                for c in range(self.ks):
                    mem = Xs[a == c]
                    if len(mem):
                        C[c] = mem.mean(axis=0)
            books[s] = C
        return books

    def expand(self, pcoll: PCollection) -> PCollection:
        import numpy as np
        import pandas as pd
        from pyspark.sql import Window

        idc, vc, k = self.id_col, self.vec_col, self.k
        m, ks = self.m, self.ks
        cands = max(self.rerank_factor * k, k)
        exclude_self = self.exclude_self
        books = self._fit_codebooks(pcoll.df)
        sub = books.shape[2]

        def encode_gen(batches):
            for pdf in batches:
                mat = np.array(list(pdf[vc]), dtype=np.float64)
                mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
                codes = np.empty((len(pdf), m), dtype=np.int32)
                for s in range(m):
                    Xs = mat[:, s * sub:(s + 1) * sub]
                    d2 = ((Xs ** 2).sum(1)[:, None]
                          - 2.0 * Xs @ books[s].T
                          + (books[s] ** 2).sum(1)[None, :])
                    codes[:, s] = d2.argmin(axis=1)
                yield pd.DataFrame({idc: pdf[idc], "codes": list(codes)})

        codes_df = pcoll.df.select(idc, vc).mapInPandas(
            encode_gen, schema=f"{idc} long, codes array<int>")

        qrows = _collect_queries(self.queries, [idc, vc],
                                 self.query_max_rows, "PqCosineTopK")
        q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
        q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
        q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
        # per-query ADC tables: luts[q, s, code] = dot(q_sub, centroid)
        luts = np.stack([q_mat[:, s * sub:(s + 1) * sub] @ books[s].T
                         for s in range(m)], axis=1)
        nq = len(q_ids)

        def scan_gen(batches):
            for pdf in batches:
                codes = np.array(list(pdf["codes"]), dtype=np.int64)
                ids = pdf[idc].to_numpy(dtype=np.int64)
                scores = np.zeros((nq, len(pdf)), dtype=np.float64)
                for s in range(m):
                    scores += luts[:, s, codes[:, s]]
                if exclude_self:
                    scores = np.where(q_ids[:, None] == ids[None, :],
                                      -np.inf, scores)
                top = min(cands, scores.shape[1])
                idx = np.argpartition(-scores, top - 1, axis=1)[:, :top]
                out = pd.DataFrame(
                    {"query_id": np.repeat(q_ids, top),
                     "nbr_id": ids[idx].ravel(),
                     "approx": np.take_along_axis(scores, idx, 1).ravel()})
                yield out[out["approx"] > -np.inf]

        partial = codes_df.mapInPandas(
            scan_gen, schema="query_id long, nbr_id long, approx double")
        wc = Window.partitionBy("query_id").orderBy(
            F.col("approx").desc(), F.col("nbr_id"))
        cand = (partial.withColumn("r", F.row_number().over(wc))
                .filter(F.col("r") <= cands)
                .select("query_id", "nbr_id"))
        # exact rerank on the candidates only: the candidate set is
        # queries*cands rows — broadcast it so the corpus side never
        # shuffles; q vectors ride a tiny broadcast frame too
        spark = pcoll.df.sparkSession
        qv = spark.createDataFrame(
            [(int(i), [float(v) for v in row])
             for i, row in zip(q_ids, q_mat)],
            schema="query_id long, q_vec array<double>")
        joined = (pcoll.df.select(F.col(idc).alias("nbr_id"), vc)
                  .join(F.broadcast(cand), on="nbr_id")
                  .join(F.broadcast(qv), on="query_id"))
        exact = joined.withColumn(
            "cosine", dot(F.col("q_vec"), F.col(vc)) / norm(F.col(vc)))
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("nbr_id"))
        out = (exact.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k)
               .select("query_id", "nbr_id", "rank",
                       F.round("cosine", 6).alias("cosine")))
        return pcoll.with_df(out)


class DbscanClusters(PTransform):
    """Density-based clustering (DBSCAN, Ester et al. KDD'96) of
    LOW-dimensional numeric points — the spatial/segmentation
    clustering k-means can't do (arbitrary shapes, explicit noise).

    Spark design (the parallel grid formulation): points hash into
    eps-sided grid cells; each point probes its 3^d adjacent cells
    (one explode + one equi-join — the ONLY shuffle of the pair
    stage), pairs filter on exact squared distance, neighbor counts
    mark cores (|N_eps| + self >= min_pts), core-core edges feed the
    existing ConnectedComponents (large/small-star, O(log D) rounds),
    and border points attach to the MINIMUM cluster id among their
    core neighbors (the deterministic tie policy — parallel DBSCAN's
    border assignment is order-dependent in the original paper).
    Cluster id = min core id of the component (bigint-exact).

    d is capped at 3: the 3^d probe factor and the
    curse-of-dimensionality make grid DBSCAN a low-d tool — for
    embeddings use KMeansLloyd / SemDeDup. A dense cell still costs
    |cell|^2 within its bucket (inherent to DBSCAN's neighbor graph);
    size eps accordingly.

    Output: (id, cluster, is_core) — cluster NULL for noise points.
    """

    MAX_DIMS = 3

    def __init__(self, cols, eps: float, min_pts: int = 4,
                 id_col: str = "id", label=None):
        super().__init__(label)
        self.cols = [cols] if isinstance(cols, str) else list(cols)
        if not 1 <= len(self.cols) <= self.MAX_DIMS:
            raise ValueError(
                f"need 1..{self.MAX_DIMS} coordinate columns "
                f"(grid DBSCAN is a low-d tool), got {len(self.cols)}")
        self.eps = float(eps)
        if self.eps <= 0:
            raise ValueError("eps must be > 0")
        self.min_pts = int(min_pts)
        if self.min_pts < 1:
            raise ValueError("min_pts must be >= 1")
        self.id_col = id_col

    def expand(self, pcoll: PCollection) -> PCollection:
        from itertools import product

        idc, eps, dims = self.id_col, self.eps, self.cols
        dt = dict(pcoll.df.dtypes).get(idc)
        if dt not in ("bigint", "int", "smallint", "tinyint"):
            raise ValueError(
                f"DbscanClusters: id_col {idc!r} must be integral "
                f"(got {dt}) — a string id would silently cast to "
                "NULL and collapse every point into one group")
        d = len(dims)
        cond = F.lit(True)
        for c in dims:
            cond = cond & F.col(c).isNotNull()
        pts = pcoll.df.where(cond).select(
            F.col(idc).cast("long").alias("__id"),
            *[F.col(c).cast("double").alias(c) for c in dims])
        cell = [F.floor(F.col(c) / F.lit(eps)).alias(f"__c{i}")
                for i, c in enumerate(dims)]
        base = pts.select("*", *cell)

        offs = list(product((-1, 0, 1), repeat=d))
        probe = base.select(
            "__id", *dims,
            F.explode(F.array(*[
                F.struct(*[
                    (F.col(f"__c{i}") + F.lit(o[i])).alias(f"__k{i}")
                    for i in range(d)])
                for o in offs])).alias("__k")).select(
            F.col("__id").alias("__ai"),
            *[F.col(c).alias(f"__a_{c}") for c in dims],
            *[F.col(f"__k.__k{i}") for i in range(d)])
        other = base.select(
            F.col("__id").alias("__bi"),
            *[F.col(c).alias(f"__b_{c}") for c in dims],
            *[F.col(f"__c{i}").alias(f"__k{i}") for i in range(d)])
        dist2 = sum(((F.col(f"__a_{c}") - F.col(f"__b_{c}"))
                     * (F.col(f"__a_{c}") - F.col(f"__b_{c}")))
                    for c in dims)
        pairs = (probe.join(other, [f"__k{i}" for i in range(d)])
                 .where((F.col("__ai") != F.col("__bi"))
                        & (dist2 <= F.lit(eps * eps)))
                 .select("__ai", "__bi"))
        return pcoll.with_df(_dbscan_assign(
            pcoll, pts, pairs, self.min_pts, idc))


def _dbscan_assign(pcoll, pts, pairs, min_pts, idc):
    """Shared DBSCAN tail: eps-neighbor pairs (__ai, __bi — BOTH
    directions present) -> core marking, star-CC cluster ids over
    core-core edges, min-cluster border attachment. Used by the grid
    and the LSH variants — the candidate-generation strategy is the
    only thing that differs between them."""
    from beam_spark.operators.dedupe import ConnectedComponents

    # EAGER on purpose: the first consumer job reads pairs through
    # parallel stage branches (the core count and the core-core edge
    # join), and a non-eager checkpoint would compute it once per
    # branch before the cache exists (measured +37% on the gate's
    # dbscan member when tried)
    pairs = pairs.localCheckpoint(eager=True)  # 3 consumers below

    ncnt = pairs.groupBy("__ai").agg(
        F.count(F.lit(1)).alias("__n"))
    cores = (ncnt.where(F.col("__n") + 1 >= min_pts)
             .select(F.col("__ai").alias("__id")))
    # min_pts = 1 edge case: every point (even isolated) is core
    if min_pts == 1:
        cores = pts.select("__id")

    ce = (pairs
          .join(cores.withColumnRenamed("__id", "__ai"), "__ai")
          .join(cores.withColumnRenamed("__id", "__bi"), "__bi")
          .where(F.col("__ai") < F.col("__bi"))
          .select(F.col("__ai").alias("i"),
                  F.col("__bi").alias("j")))
    cc = (pcoll.with_df(ce)
          | ConnectedComponents(algorithm="star")).df
    core_assign = (cores.join(
        cc.withColumnRenamed("node", "__id"), "__id", "left")
        .select("__id",
                F.coalesce("comp", "__id").alias("cluster")))

    border = (pairs
              .join(core_assign.withColumnRenamed("__id", "__bi")
                    .withColumnRenamed("cluster", "__bc"), "__bi")
              .join(cores.withColumnRenamed("__id", "__ai"),
                    "__ai", "anti")
              .groupBy("__ai")
              .agg(F.min("__bc").alias("cluster"))
              .select(F.col("__ai").alias("__id"), "cluster"))

    assigned = (core_assign.withColumn("is_core", F.lit(True))
                .unionByName(
                    border.withColumn("is_core", F.lit(False))))
    return (pts.select("__id")
            .join(assigned, "__id", "left")
            .select(F.col("__id").alias(idc), "cluster",
                    F.coalesce("is_core", F.lit(False))
                    .alias("is_core")))


def lsh_projections(dim: int, bands: int, rows_per_band: int,
                    bucket_width: float, seed: int):
    """Seed-deterministic p-stable (E2LSH, Datar et al. 2004)
    projection literals, shared by the Spark plan and the DuckDB
    oracle: a[band][row][dim] ~ N(0,1) rounded 6 (exact doubles both
    engines), b[band][row] ~ U[0, w) rounded 6. Driver-side numpy —
    no RNG state on executors (the HashSample posture)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = np.round(rng.standard_normal((bands, rows_per_band, dim)), 6)
    b = np.round(rng.uniform(0.0, bucket_width,
                             (bands, rows_per_band)), 6)
    return a.tolist(), b.tolist()


class DbscanClustersLsh(PTransform):
    """DBSCAN for HIGH-dimensional numeric vectors (embedding-space
    density clustering) — the regime where the grid variant's 3^d
    probe factor explodes. Candidate eps-neighbor pairs come from
    p-stable LSH (E2LSH, Datar et al. 2004): per band, each point
    hashes to ``rows_per_band`` concatenated keys
    floor((a.x + b) / w); points sharing a band's full key become
    candidates, every candidate is verified on the EXACT squared
    euclidean distance, and the verified pairs feed the identical
    core / star-CC / border machinery as the grid variant.

    APPROXIMATE by nature: a true eps-pair landing in no common
    bucket is missed (probability shrinks with ``bands``), so
    clusters can fragment relative to exact DBSCAN — recall vs the
    exact grid is pytest-floored at low d. Projections are
    seed-deterministic round-6 literals and every per-row sum is an
    EXPLICIT per-dimension chain (fixed IEEE order), so the realized
    candidate set — and therefore the whole output — replays exactly
    in the DuckDB oracle.

    Scale: the band-key self-join is the only shuffle; a dense bucket
    costs |bucket|^2 within its band (tune ``bucket_width`` down /
    ``rows_per_band`` up for skewed corpora). Never all-pairs.

    Output: (id, cluster, is_core) — cluster NULL for noise.
    """

    MAX_DIM = 64

    def __init__(self, vec_col: str, eps: float, min_pts: int = 4,
                 id_col: str = "id", bands: int = 8,
                 rows_per_band: int = 2,
                 bucket_width: float | None = None, seed: int = 7,
                 label=None):
        super().__init__(label)
        self.vec_col = vec_col
        self.eps = float(eps)
        if self.eps <= 0:
            raise ValueError("eps must be > 0")
        self.min_pts = int(min_pts)
        if self.min_pts < 1:
            raise ValueError("min_pts must be >= 1")
        self.id_col = id_col
        self.bands = int(bands)
        self.rows_per_band = int(rows_per_band)
        if not 1 <= self.bands <= 64:
            raise ValueError("bands must be in [1, 64]")
        if not 1 <= self.rows_per_band <= 8:
            raise ValueError("rows_per_band must be in [1, 8]")
        self.bucket_width = (float(bucket_width)
                             if bucket_width is not None
                             else 2.0 * self.eps)
        if self.bucket_width <= 0:
            raise ValueError("bucket_width must be > 0")
        self.seed = int(seed)

    def expand(self, pcoll: PCollection) -> PCollection:
        idc, vc, eps = self.id_col, self.vec_col, self.eps
        dt = dict(pcoll.df.dtypes).get(idc)
        if dt not in ("bigint", "int", "smallint", "tinyint"):
            raise ValueError(
                f"DbscanClustersLsh: id_col {idc!r} must be integral "
                f"(got {dt})")
        pts = pcoll.df.where(F.col(vc).isNotNull()).select(
            F.col(idc).cast("long").alias("__id"),
            F.expr(f"transform({vc}, x -> CAST(x AS DOUBLE))")
            .alias("__v"))
        row = pts.agg(F.min(F.size("__v")).alias("lo"),
                      F.max(F.size("__v")).alias("hi"),
                      F.count(F.lit(1)).alias("n")).first()
        if not row["n"]:
            return pcoll.with_df(pts.select(
                F.col("__id").alias(idc),
                F.lit(None).cast("long").alias("cluster"),
                F.lit(False).alias("is_core")))
        if row["lo"] != row["hi"]:
            raise ValueError(
                f"DbscanClustersLsh: ragged vector dims "
                f"[{row['lo']}, {row['hi']}] — fix the input "
                "(a short vector would silently hash on a prefix)")
        dim = int(row["lo"])
        if dim > self.MAX_DIM:
            raise ValueError(
                f"DbscanClustersLsh: dim {dim} > {self.MAX_DIM} "
                "(per-dimension expression chains bound the key "
                "width) — reduce with PcaProject first")
        a, b = lsh_projections(dim, self.bands, self.rows_per_band,
                               self.bucket_width, self.seed)
        w = self.bucket_width

        def key(band, r):
            # aggregate(zip_with(...)) is a LEFT FOLD in array order —
            # the identical IEEE sequence as an explicit
            # ((0 + t1) + t2)... chain (which the oracle spells out),
            # but one expression node instead of `dim` chained adds:
            # the chained form put 16 keys x 64 terms in one codegen
            # method and blew janino's 64 KB limit into interpreted
            # fallback
            proj = F.aggregate(
                F.zip_with("__v", lit_double_array(a[band][r]),
                           lambda x, y: x * y),
                F.lit(0.0), lambda acc, t: acc + t)
            return F.floor((proj + F.lit(b[band][r])) / F.lit(w)) \
                    .cast("long")

        keyed = pts.select(
            "__id", "__v",
            F.explode(F.array(*[
                F.struct(F.lit(band).alias("__band"),
                         *[key(band, r).alias(f"__k{r}")
                           for r in range(self.rows_per_band)])
                for band in range(self.bands)])).alias("__h")
        ).select("__id", "__v", "__h.*")
        left = keyed.select(
            F.col("__id").alias("__ai"), F.col("__v").alias("__va"),
            "__band", *[f"__k{r}" for r in range(self.rows_per_band)])
        right = keyed.select(
            F.col("__id").alias("__bi"), F.col("__v").alias("__vb"),
            "__band", *[f"__k{r}" for r in range(self.rows_per_band)])
        d2 = F.aggregate(
            F.zip_with("__va", "__vb",
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, t: acc + t)
        pairs = (left.join(
            right,
            ["__band"] + [f"__k{r}" for r in range(self.rows_per_band)])
            .where(F.col("__ai") != F.col("__bi"))
            .where(d2 <= F.lit(eps * eps))
            .select("__ai", "__bi")
            .distinct())
        return pcoll.with_df(_dbscan_assign(
            pcoll, pts, pairs, self.min_pts, idc))


class KMeansLloyd(PTransform):
    """Distributed spherical k-means (Lloyd's algorithm, fixed-round):
    the embedding-space partitioner a curation pipeline runs before
    per-cluster work — SemDeDup-style dedup, cluster-balanced
    sampling, IVF index building. Unlike SemDeDup's one-shot seed
    assignment, this iterates the full corpus: each round assigns
    every vector to its max-cosine centroid (a zero-shuffle Catalyst
    argmax over k dot products), then recomputes centroids as the
    L2-normalized per-cluster mean via posexplode -> groupBy(cluster,
    dim) partial aggregation (ONE keyed shuffle of k*dim cells per
    round; the k x dim summary — not the data — is collected,
    updated in numpy, and re-broadcast as literals).

    Determinism & oracle replay (the PageRank convention): seeds are
    the k smallest-id vectors, or with ``seeding='farthest'`` the
    deterministic Gonzalez/k-means++-style spread — seed 0 is the
    smallest id, each next seed the vector MINIMIZING its max round-6
    cosine to the chosen set (i.e. the farthest point), ties to the
    smallest id; k-1 driver-argmin scans, no RNG, fully replayable; centroid coordinates are rounded to
    9 dp after each normalize (per-group float-sum order is the only
    cross-engine difference, ~1e-15 relative — round 9 absorbs it);
    assignment similarities are rounded to 6 dp with first-max
    (smallest cluster index) tie-break. An empty cluster keeps its
    previous centroid. Input rows with NULL vectors are dropped.

    Scale: per round, one scan + one (cluster, dim)-keyed shuffle
    whose reduced size is k*dim cells regardless of corpus size; the
    driver holds only k*dim doubles (k caps at MAX_SEED_COLLECT, the
    SemDeDup posture). Assignment cost is O(k*dim) per row — the k
    norm recomputations add at most ~2x over the unavoidable k dot
    products. rounds is bounded (each round is a Spark job).

    Output: one row per vector — (id_col, cluster int in [0, k),
    sim double round-6 cosine to its final centroid).
    ``with_silhouette=True`` appends ``sim_2nd`` (the second-highest
    round-6 centroid cosine) and a simplified SILHOUETTE in cosine
    distance, s = (sim - sim_2nd) / max(1-sim, 1-sim_2nd) — the O(n*k)
    clustering-quality score (vs the O(n^2) exact silhouette), NULL
    when k = 1 or both distances are 0; identical IEEE ops on round-6
    inputs, so it stays UNROUNDED (the MMR convention).
    """

    MAX_SEED_COLLECT = 4096
    MAX_ROUNDS = 50

    def __init__(self, k: int, rounds: int = 2, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 with_silhouette: bool = False,
                 seeding: str = "first_ids", label=None):
        super().__init__(label)
        if not 1 <= int(k) <= self.MAX_SEED_COLLECT:
            raise ValueError(
                f"k {k} outside [1, {self.MAX_SEED_COLLECT}] (centroids "
                "ride in the task closure)")
        if not 0 <= int(rounds) <= self.MAX_ROUNDS:
            raise ValueError(
                f"rounds {rounds} outside [0, {self.MAX_ROUNDS}]")
        if seeding not in ("first_ids", "farthest"):
            raise ValueError(
                f"seeding {seeding!r}: 'first_ids' or 'farthest'")
        self.k, self.rounds = int(k), int(rounds)
        self.id_col, self.vec_col = id_col, vec_col
        self.with_silhouette = bool(with_silhouette)
        self.seeding = seeding

    def expand(self, pcoll: PCollection) -> PCollection:
        import numpy as np

        idc, vc, k = self.id_col, self.vec_col, self.k
        base = (pcoll.df.where(F.col(vc).isNotNull())
                .select(F.col(idc).alias("__id"),
                        F.col(vc).cast("array<double>").alias("__v")))
        # zero-norm vectors have no cosine direction — their sims are
        # NaN and the argmax is undefined; fail fast with the count
        # instead of emitting garbage assignments
        n_zero = base.where(norm(F.col("__v")) == 0.0).count()
        if n_zero:
            raise ValueError(
                f"KMeansLloyd: {n_zero} zero-norm vector(s) — cosine "
                "assignment is undefined; filter them upstream")
        def _unit9(v):
            v = np.asarray(v, dtype=np.float64)
            return np.round(v / np.linalg.norm(v), 9)

        if self.seeding == "farthest":
            first = base.orderBy("__id").limit(1).collect()
            if not first:
                raise ValueError("KMeansLloyd: no non-NULL vectors")
            chosen = [_unit9(first[0]["__v"])]
            nrm = norm(F.col("__v"))
            for _ in range(1, k):
                sims = F.array(*[
                    F.round(dot(F.col("__v"), lit_double_array(c))
                            / nrm, 6)
                    for c in chosen])
                pick = (base.withColumn("__mc", F.array_max(sims))
                        .orderBy(F.col("__mc").asc(), F.col("__id"))
                        .limit(1).collect()[0])
                chosen.append(_unit9(pick["__v"]))
            C = np.array(chosen)
        else:
            seed_rows = base.orderBy("__id").limit(k).collect()
            if len(seed_rows) < k:
                raise ValueError(
                    f"KMeansLloyd: k={k} but only {len(seed_rows)} "
                    "non-NULL vectors")
            C = np.array([r["__v"] for r in seed_rows],
                         dtype=np.float64)
            C = np.round(C / np.linalg.norm(C, axis=1, keepdims=True),
                         9)
        dim = C.shape[1]

        def assign(cent):
            nrm = norm(F.col("__v"))
            sims = F.array(*[
                F.round(dot(F.col("__v"), lit_double_array(row))
                        / nrm, 6)
                for row in cent])
            return (base
                    .withColumn("__sims", sims)
                    .withColumn("__c", (F.array_position(
                        "__sims", F.array_max("__sims")) - 1).cast("int"))
                    .withColumn("__s", F.array_max("__sims")))

        for _ in range(self.rounds):
            stats = (assign(C)
                     .select("__c", F.posexplode("__v")
                             .alias("__d", "__x"))
                     .groupBy("__c", "__d")
                     .agg(F.sum("__x").alias("s"),
                          F.count(F.lit(1)).alias("n"))
                     .collect())
            S = np.zeros((k, dim))
            N = np.zeros(k)
            for r in stats:
                S[r["__c"], r["__d"]] = r["s"]
                N[r["__c"]] = r["n"]
            for c in range(k):
                if N[c] > 0:
                    m = S[c] / N[c]
                    C[c] = np.round(m / np.linalg.norm(m), 9)
        self.centroids_ = C.tolist()
        fin = assign(C)
        cols = [F.col("__id").alias(idc),
                F.col("__c").alias("cluster"),
                F.col("__s").alias("sim")]
        if self.with_silhouette:
            s1 = F.col("__s")
            # size guard so k=1 yields NULL under ANSI mode too
            # (bare element_at(-2) on a size-1 array throws there)
            s2 = F.when(F.size("__sims") >= 2,
                        F.element_at(F.array_sort("__sims"), -2))
            den = F.greatest(F.lit(1.0) - s1, F.lit(1.0) - s2)
            cols += [s2.alias("sim_2nd"),
                     F.when(den > 0, (s1 - s2) / den).alias("silhouette")]
        return pcoll.with_df(fin.select(*cols))


class SilhouetteScore(PTransform):
    """EXACT per-point silhouette (Rousseeuw 1987) in cosine distance
    over an assigned clustering — the clustering-quality score
    KMeansLloyd's ``with_silhouette`` only approximates (that one uses
    centroid distances; this one uses mean MEMBER distances), WITHOUT
    the O(n^2) pairwise scan: with L2-normalized vectors the mean
    cosine distance from point i to cluster c's members is

        1 - (v_i . S_c - [i in c]) / (N_c - [i in c]),
        S_c = sum of c's normalized member vectors

    so ONE (cluster, dim)-keyed aggregation (k*dim cells, the
    KMeansLloyd update shape) + a driver broadcast of the k*dim sum
    matrix computes a(i) (own cluster) and b(i) (min mean distance to
    any other cluster); s = (b - a) / max(a, b), s = 0 for singleton
    clusters, NULL when there is only one cluster.

    Determinism (the KMeansLloyd oracle convention): unit coordinates
    round 9, cluster sums round 9 after aggregation (absorbs
    partial-agg order), a/b round 6 (absorbs the dot product's
    engine sum-order at ~1e-15), final ratio UNROUNDED on the round-6
    inputs — identical IEEE sequence in any engine.

    ``clusters``: optional (id, cluster) assignment frame joined on
    ``id_col`` — e.g. KMeansLloyd's output; omit it if the piped
    frame already carries ``cluster_col``. Zero-norm vectors are
    rejected (no cosine direction), NULL vectors dropped.

    Scale: one inner join on id (skipped when the frame carries the
    cluster), one k*dim-cell aggregation, then a zero-shuffle scoring
    projection with k dot products per row — identical cost shape to
    one KMeansLloyd round. The driver holds k*dim doubles
    (``max_clusters`` guards the closure size).

    Output: (id_col, cluster, a_mean_dist, b_mean_dist, silhouette).
    """

    MAX_CLUSTERS = 1024

    def __init__(self, clusters=None, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 cluster_col: str = "cluster",
                 max_clusters: int = MAX_CLUSTERS, label=None):
        super().__init__(label)
        self.clusters = (clusters.df if isinstance(clusters, PCollection)
                         else clusters)
        self.id_col, self.vec_col = id_col, vec_col
        self.cluster_col = cluster_col
        self.max_clusters = int(max_clusters)

    def expand(self, pcoll: PCollection) -> PCollection:
        import numpy as np

        idc, vc, cc = self.id_col, self.vec_col, self.cluster_col
        df = pcoll.df
        if self.clusters is not None:
            df = df.join(
                self.clusters.select(F.col(idc), F.col(cc)), on=idc)
        base = (df.where(F.col(vc).isNotNull())
                .select(F.col(idc).alias("__id"),
                        F.col(cc).cast("long").alias("__cl"),
                        F.col(vc).cast("array<double>").alias("__v")))
        n_zero = base.where(norm(F.col("__v")) == 0.0).count()
        if n_zero:
            raise ValueError(
                f"SilhouetteScore: {n_zero} zero-norm vector(s) — "
                "cosine distance is undefined; filter them upstream")
        # pre-project the norm: an aggregate expression as a lambda
        # free variable re-evaluates PER ELEMENT inside transform
        # (O(dim^2) per row) — a plain column reference doesn't
        unit = (base.select("__id", "__cl", "__v",
                            norm(F.col("__v")).alias("__nr"))
                .select("__id", "__cl",
                        F.transform(
                            "__v",
                            lambda x: F.round(x / F.col("__nr"), 9))
                        .alias("__u")))
        stats = (unit.select("__cl", F.posexplode("__u")
                             .alias("__d", "__x"))
                 .groupBy("__cl", "__d")
                 .agg(F.round(F.sum("__x"), 9).alias("s"),
                      F.count(F.lit(1)).alias("n"))
                 .collect())
        cids = sorted({r["__cl"] for r in stats})
        if len(cids) > self.max_clusters:
            raise ValueError(
                f"SilhouetteScore: {len(cids)} clusters exceeds "
                f"max_clusters={self.max_clusters} (the sum matrix "
                "rides in the task closure)")
        if not cids:
            raise ValueError("SilhouetteScore: no non-NULL vectors")
        cpos = {c: i for i, c in enumerate(cids)}
        dim = 1 + max(r["__d"] for r in stats)
        S = np.zeros((len(cids), dim))
        N = np.zeros(len(cids), dtype=np.int64)
        for r in stats:
            S[cpos[r["__cl"]], r["__d"]] = r["s"]
            N[cpos[r["__cl"]]] = r["n"]

        def s_lit(i):
            return lit_double_array(S[i])

        dots = [dot(F.col("__u"), s_lit(i)) for i in range(len(cids))]
        own_dot = None
        own_n = None
        for i, c in enumerate(cids):
            cond = F.col("__cl") == c
            own_dot = (F.when(cond, dots[i]) if own_dot is None
                       else own_dot.when(cond, dots[i]))
            own_n = (F.when(cond, F.lit(int(N[i]))) if own_n is None
                     else own_n.when(cond, F.lit(int(N[i]))))
        a = F.round(F.lit(1.0) - (own_dot - 1.0)
                    / (own_n - 1.0).cast("double"), 6)
        others = [F.when(F.col("__cl") == c, F.lit(None).cast("double"))
                  .otherwise(F.round(
                      F.lit(1.0) - dots[i] / F.lit(float(N[i])), 6))
                  for i, c in enumerate(cids)]
        b = others[0] if len(others) == 1 else F.least(*others)
        sil = (F.when(own_n == 1, F.lit(0.0))
               .when(b.isNull(), F.lit(None).cast("double"))
               .when(F.greatest(a, b) > 0,
                     (b - a) / F.greatest(a, b))
               .otherwise(F.lit(0.0)))
        out = unit.select(
            F.col("__id").alias(idc), F.col("__cl").alias(cc),
            F.when(own_n > 1, a).alias("a_mean_dist"),
            b.alias("b_mean_dist"), sil.alias("silhouette"))
        return pcoll.with_df(out)


class CovarianceMatrix(PTransform):
    """Exact d x d sample covariance of a vector column by one
    distributed partial-Gram pass — the statistics PCA/whitening/
    Mahalanobis flows need, computed the way it must be at corpus
    scale: each Arrow batch contributes ONE row (count, column sums,
    flattened X'X from a numpy matmul), then a d^2-cell keyed
    aggregation combines batches. No per-row explode of d^2 cells,
    no driver-side data collection.

        cov(i, j) = (G_ij - S_i * S_j / n) / (n - 1)

    Scale: the shuffle after the scan carries (#batches) * d^2 cells
    (thousands of rows, not billions); per-batch work is one
    (batch x d)'(batch x d) BLAS call. Rows with NULL vectors are
    dropped; rows with a deviating vector length fail loudly rather
    than silently truncating — within a batch via the numpy stack,
    across batches via an explicit expected-dim check (without it,
    partial-Gram arrays of different sizes would posexplode into
    silently mixed cells).

    Output: (i, j, cov) for all d^2 ordered pairs (symmetric — both
    triangles emitted so downstream joins need no case logic), i/j
    0-based ints, cov double (unrounded; round at the comparison
    boundary — batch-vs-row float sum order differs across engines
    at ~1e-15 relative).
    """

    def __init__(self, vec_col: str = "embedding", label=None):
        super().__init__(label)
        self.vec_col = vec_col

    @staticmethod
    def _partial_gram(vec_col, expect_d=None):
        """Per-batch (n, sums, flattened Gram). ``np.stack`` already
        fails loudly on ragged lengths WITHIN a batch; ``expect_d``
        extends that guarantee ACROSS batches (without it, two
        batches of different d would emit partial arrays of
        different sizes whose posexploded cells silently mix)."""
        def gen(it):
            import numpy as np
            import pandas as pd

            for pdf in it:
                vs = pdf[vec_col].dropna()
                if not len(vs):
                    continue
                X = np.stack([np.asarray(v, dtype=np.float64)
                              for v in vs])
                if expect_d is not None and X.shape[1] != expect_d:
                    raise ValueError(
                        f"ragged vector column {vec_col!r}: batch "
                        f"dim {X.shape[1]} != expected {expect_d}")
                yield pd.DataFrame({
                    "n": [int(len(X))],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()]})
        return gen

    def expand(self, pcoll: PCollection) -> PCollection:
        vc = self.vec_col
        src = pcoll.df.where(F.col(vc).isNotNull())
        first = src.select(F.size(vc).alias("d")).first()
        if first is None:
            raise ValueError("CovarianceMatrix: empty input")
        d = int(first["d"])
        parts = src.select(vc).mapInPandas(
            self._partial_gram(vc, expect_d=d),
            schema="n long, s array<double>, g array<double>")
        tot = (parts.select(F.posexplode("g").alias("idx", "gv"))
               .groupBy("idx").agg(F.sum("gv").alias("g")))
        n_s = (parts.select("n", F.posexplode("s").alias("i", "sv"))
               .groupBy("i").agg(F.sum("sv").alias("s"),
                                 F.sum("n").alias("n")))
        si = n_s.select(F.col("i").alias("i"),
                        F.col("s").alias("s_i"), "n")
        sj = n_s.select(F.col("i").alias("j"),
                        F.col("s").alias("s_j"))
        cells = tot.select(
            (F.col("idx") / d).cast("int").alias("i"),
            (F.col("idx") % d).cast("int").alias("j"),
            F.col("g"))
        # si/sj are d-row frames: broadcast explicitly (correct at any
        # threshold, including sessions that disabled auto-broadcast)
        out = (cells.join(F.broadcast(si), "i")
               .join(F.broadcast(sj), "j")
               .where(F.col("n") >= 2)
               .select(
                   "i", "j",
                   ((F.col("g") - F.col("s_i") * F.col("s_j")
                     / F.col("n").cast("double"))
                    / (F.col("n") - F.lit(1)).cast("double"))
                   .alias("cov")))
        return pcoll.with_df(out)


class PcaProject(PTransform):
    """PCA projection / whitening of an embedding column — the
    dimensionality-reduction and decorrelation step an embedding
    pipeline runs before ANN indexing, SemDeDup, or duplicate-aware
    sampling (whitening famously sharpens cosine retrieval on
    anisotropic encoder outputs).

    Fit: CovarianceMatrix's partial-Gram batches are combined on the
    driver (d x d doubles — independent of corpus size), then a numpy
    ``eigh`` gives the top-k eigenpairs. Determinism: eigh on an
    identical matrix is deterministic, and each component's sign is
    normalized so its largest-|.|-coordinate is positive (ties: the
    lowest index wins), the sklearn convention — so outputs don't
    flip sign run to run. Projection: one Arrow-batched pass
    computing (X - mean) @ V [* 1/sqrt(eigval + eps) if whitened] —
    numpy matmul per batch, no Python per row.

    Scale: fit = one scan emitting a d^2 summary per batch; transform
    = one scan; driver memory d^2 doubles. The k x d component matrix
    rides in the task closure (fails fast above MAX_DIM).

    After expand, ``explained_variance_`` / ``explained_variance_ratio_``
    hold the fitted spectra (driver-side floats).

    Output: (id_col, pca array<double> of length k).
    """

    MAX_DIM = 2048

    def __init__(self, k: int, id_col: str = "vec_id",
                 vec_col: str = "embedding", whiten: bool = False,
                 eps: float = 1e-9, label=None):
        super().__init__(label)
        self.k = int(k)
        if self.k < 1:
            raise ValueError("k must be >= 1")
        self.id_col, self.vec_col = id_col, vec_col
        self.whiten, self.eps = bool(whiten), float(eps)
        self.explained_variance_ = None
        self.explained_variance_ratio_ = None

    def expand(self, pcoll: PCollection) -> PCollection:
        import numpy as np

        idc, vc = self.id_col, self.vec_col
        src = pcoll.df.where(F.col(vc).isNotNull())
        parts = src.select(vc).mapInPandas(
            CovarianceMatrix._partial_gram(vc),
            schema="n long, s array<double>, g array<double>").collect()
        if not parts:
            raise ValueError("PcaProject: empty input")
        dims = {len(r["s"]) for r in parts}
        if len(dims) != 1:
            raise ValueError(
                f"PcaProject: ragged vector column {vc!r} — batch "
                f"dims {sorted(dims)}")
        d = len(parts[0]["s"])
        if d > self.MAX_DIM:
            raise ValueError(f"dim {d} > MAX_DIM {self.MAX_DIM}")
        if self.k > d:
            raise ValueError(f"k {self.k} > dim {d}")
        n = sum(r["n"] for r in parts)
        if n < 2:
            raise ValueError("PcaProject: need >= 2 vectors")
        s = np.sum([r["s"] for r in parts], axis=0)
        g = np.sum([np.asarray(r["g"]).reshape(d, d) for r in parts],
                   axis=0)
        mean = s / n
        cov = (g - np.outer(s, s) / n) / (n - 1)
        evals, evecs = np.linalg.eigh(cov)     # ascending
        order = np.argsort(evals)[::-1][:self.k]
        lam = np.maximum(evals[order], 0.0)
        V = evecs[:, order]
        for c in range(V.shape[1]):            # sign convention
            jmax = int(np.argmax(np.abs(V[:, c])))
            if V[jmax, c] < 0:
                V[:, c] = -V[:, c]
        if self.whiten:
            V = V / np.sqrt(lam + self.eps)
        self.explained_variance_ = lam.tolist()
        total = float(np.trace(cov))
        self.explained_variance_ratio_ = (
            (lam / total).tolist() if total > 0 else [0.0] * self.k)
        mean_b, V_b = mean, V

        def project(it):
            import pandas as pd

            for pdf in it:
                ok = pdf[vc].notna()
                pdf = pdf[ok]
                if not len(pdf):
                    continue
                X = np.stack([np.asarray(v, dtype=np.float64)
                              for v in pdf[vc]])
                Y = (X - mean_b) @ V_b
                yield pd.DataFrame({
                    idc: pdf[idc].values,
                    "pca": [row.tolist() for row in Y]})

        id_type = dict(src.dtypes)[idc]
        out = src.select(idc, vc).mapInPandas(
            project, schema=f"{idc} {id_type}, pca array<double>")
        return pcoll.with_df(out)


class MeanPoolEmbeddings(PTransform):
    """Per-key element-wise mean of a vector column (+ optional L2
    normalization) — the profile-vector builder (user vector = mean
    of their doc embeddings; source centroid for drift checks; class
    centroid for nearest-centroid routing).

    Construction: posexplode -> (keys, dim) partial-agg sum/count ->
    re-assemble the array ordered by dim. The shuffle carries
    keys x dim CELLS (the KMeansLloyd update posture), never whole
    vectors; re-assembly sorts each key's d structs.

    Output: keys + (n long, centroid array<double>) — per-dim means
    rounded 9 (per-group float-sum order); with ``normalize=True``
    the ROUNDED means are L2-normalized in a fixed IEEE sequence
    (zero vectors stay zero). Rows with NULL vectors are dropped;
    ragged vector lengths produce per-dim counts and fail fast.
    """

    def __init__(self, keys, vec_col: str = "embedding",
                 normalize: bool = False, label=None):
        super().__init__(label)
        self.keys = [keys] if isinstance(keys, str) else list(keys)
        if not self.keys:
            raise ValueError("MeanPoolEmbeddings: need >= 1 key")
        self.vec_col = vec_col
        self.normalize = bool(normalize)

    def expand(self, pcoll: PCollection) -> PCollection:
        ks, vc = self.keys, self.vec_col
        ex = (pcoll.df.where(F.col(vc).isNotNull())
              .select(*ks, F.posexplode(vc).alias("dim", "__x")))
        cells = (ex.groupBy(*ks, "dim")
                 .agg(F.sum(F.col("__x").cast("double")).alias("__s"),
                      F.count(F.lit(1)).cast("long").alias("__c")))
        per_key = (cells.groupBy(*ks)
                   .agg(F.min("__c").alias("__cmin"),
                        F.max("__c").alias("__cmax"),
                        F.array_sort(F.collect_list(
                            F.struct("dim", "__s"))).alias("__cells")))
        # ragged input: some dim appeared in fewer vectors
        mean_arr = F.transform(
            "__cells",
            lambda s: F.round(s["__s"] / F.col("__cmin")
                              .cast("double"), 9))
        out = (per_key
               .withColumn("__ragged",
                           F.col("__cmin") != F.col("__cmax"))
               .withColumn("n", F.col("__cmin").cast("long"))
               .withColumn("centroid", mean_arr))
        if self.normalize:
            norm = F.sqrt(F.aggregate(
                "centroid", F.lit(0.0),
                lambda acc, x: acc + x * x))
            out = out.withColumn(
                "centroid",
                F.when(norm > 0.0,
                       F.transform("centroid", lambda x: x / norm))
                .otherwise(F.col("centroid")))
        bad = out.where("__ragged").limit(1).collect()
        if bad:
            raise ValueError(
                "MeanPoolEmbeddings: ragged vector lengths under key "
                f"{[bad[0][k] for k in ks]}")
        return pcoll.with_df(out.select(*ks, "n", "centroid"))
