"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

The reference only ships exact Distinct (util.py:312), TTL Deduplicate
(transforms/deduplicate.py:43) and ApproximateUnique (stats.py:89); the
near-dup family here is the standard extension a 100 TB corpus needs
(brief requirement; cf. MinHashLSH in Spark MLlib, re-expressed with pure
SQL expressions so there is no Python and no MLlib model object in the
path).

Scale design notes:
* Exact dedup: hash-groupBy on a content fingerprint — one shuffle on the
  md5 key, combiner-lifted min() pick of the survivor.
* NgramJaccardPairs (exact): explode shingles -> pair-count join. The
  join key is the shingle, so cost is sum over shingles of df^2 — fine
  for verification corpora, quadratic in heavy shingles. At 100 TB use
  MinHashLSH below and keep this as the verifier on candidates only.
* MinHashLSH: k permutation min-hashes from one xxhash64 base hash
  (h_i = (a_i*h + b_i) mod p), banded; only same-band docs join. Tunable
  (bands, rows) s-curve; candidates verified with exact jaccard. All
  JVM-side; the only shuffle is the band-bucket groupBy-join.
* SimHash64: 64 bit-vote aggregate columns (codegen'd wide agg) -> one
  int64 fingerprint per doc; near-dup = hamming <= k via 16-bit-chunk
  pigeonhole bucketing + bit_count(xor) verify.
* Embedding near-dup: see similarity.py (cosine machinery shared).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beam_spark.pcollection import PCollection, PTransform
from beam_spark.operators.graph import _fixed_point, _release_superseded
from beam_spark.operators.text import tokens, word_shingles_on

# Deterministic MinHash permutation parameters (public Carter-Wegman
# construction): h_i(x) = (a_i * x + b_i) mod p over the Mersenne prime
# 2^31-1. The 31-bit universe keeps a_i * h inside int64 (ANSI mode
# errors on overflow) while leaving minhash collision noise negligible.
_MERSENNE_31 = (1 << 31) - 1


def _shingle_sets(df: DataFrame, idc: str, text_col: str,
                  n: int) -> DataFrame:
    """(idc, sh): the word n-gram array of every document with at least
    ``n`` tokens. The token count is filtered BEFORE shingling: a filter
    on size(sh) pushed below the projection would inline the token
    array into the shingle lambda's free variable and re-split the text
    per lambda element (O(tokens^2) — measured 20x)."""
    return (df.select(F.col(idc), tokens(text_col).alias("__w"))
            .filter(F.size("__w") >= n)
            .select(F.col(idc), word_shingles_on("__w", n).alias("sh")))


def _perm_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _MERSENNE_31), rnd.randrange(0, _MERSENNE_31))
            for _ in range(k)]


class ExactDedup(PTransform):
    """Exact content dedup: md5(normalized text) groupBy, keep the minimum
    id (deterministic survivor). Output: one row per distinct content with
    ``dup_count``."""

    def __init__(self, text_col: str = "text", id_col: str = "doc_id", label=None):
        super().__init__(label)
        self.text_col, self.id_col = text_col, id_col

    def expand(self, pcoll: PCollection) -> PCollection:
        norm = F.concat_ws(" ", tokens(self.text_col))
        df = (pcoll.df
              .withColumn("content_md5", F.md5(norm))
              .groupBy("content_md5")
              .agg(F.min(self.id_col).alias("keep_id"),
                   F.count("*").alias("dup_count")))
        return pcoll.with_df(df)


class NgramJaccardPairs(PTransform):
    """Exact near-dup pairs by word n-gram jaccard >= threshold.

    explode(shingles) -> self-join on shingle -> per-pair common count ->
    jaccard from set sizes. Exact and oracle-able; the verifier for the
    approximate paths below.
    """

    def __init__(self, text_col: str = "text", id_col: str = "doc_id",
                 n: int = 3, threshold: float = 0.6, label=None):
        super().__init__(label)
        self.text_col, self.id_col = text_col, id_col
        self.n, self.threshold = n, threshold

    def expand(self, pcoll: PCollection) -> PCollection:
        idc = self.id_col
        sh = self.pin(_shingle_sets(pcoll.df, idc, self.text_col, self.n),
                      pcoll)
        # n_sh is derived from the pinned frame so sh is never recomputed
        sh = sh.withColumn("n_sh", F.size("sh"))
        ex = sh.select(idc, "n_sh", F.explode("sh").alias("shingle"))
        a = ex.select(F.col(idc).alias("i"), F.col("n_sh").alias("ni"), "shingle")
        b = ex.select(F.col(idc).alias("j"), F.col("n_sh").alias("nj"), "shingle")
        common = (a.join(b, on="shingle")
                  .filter(F.col("i") < F.col("j"))
                  .groupBy("i", "j", "ni", "nj")
                  .agg(F.count("*").alias("common")))
        jac = F.col("common") / (F.col("ni") + F.col("nj") - F.col("common"))
        out = (common
               .withColumn("jaccard", jac)
               .filter(F.col("jaccard") >= self.threshold)
               .select("i", "j", "jaccard"))
        return pcoll.with_df(out)


class ContainmentPairs(PTransform):
    """Asymmetric near-dup pairs by shingle CONTAINMENT
    c(i in j) = |S_i ∩ S_j| / |S_i| >= threshold — the dedup signal
    symmetric jaccard structurally misses: a document quoted whole
    inside a much longer one has jaccard ≈ |A|/|B| (arbitrarily
    small) but containment 1.0. This is the "substring at the
    shingle level" complement to ExactSubstrDedup's byte-level spans
    (Broder 1997 splits resemblance/containment exactly this way).

    Same candidate machinery as NgramJaccardPairs (explode ->
    join-on-shingle -> per-pair common count; quadratic only within
    shared shingles), but ORDERED pairs: (i, j) scores i's coverage
    by j, so both directions emit independently. containment rides
    UNROUNDED — one int/int division, same IEEE op both engines.

    Output: (i, j, containment) for every ordered pair above
    threshold.
    """

    def __init__(self, text_col: str = "text", id_col: str = "doc_id",
                 n: int = 3, threshold: float = 0.5, label=None):
        super().__init__(label)
        self.text_col, self.id_col = text_col, id_col
        self.n, self.threshold = n, float(threshold)
        if not 0.0 < self.threshold <= 1.0:
            raise ValueError(f"threshold {threshold} outside (0, 1]")

    def expand(self, pcoll: PCollection) -> PCollection:
        idc = self.id_col
        sh = self.pin(_shingle_sets(pcoll.df, idc, self.text_col, self.n),
                      pcoll)
        sh = sh.withColumn("n_sh", F.size("sh"))
        ex = sh.select(idc, "n_sh", F.explode("sh").alias("shingle"))
        a = ex.select(F.col(idc).alias("i"),
                      F.col("n_sh").alias("ni"), "shingle")
        b = ex.select(F.col(idc).alias("j"), "shingle")
        common = (a.join(b, on="shingle")
                  .filter(F.col("i") != F.col("j"))
                  .groupBy("i", "j", "ni")
                  .agg(F.count("*").alias("common")))
        cont = F.col("common") / F.col("ni")
        out = (common
               .withColumn("containment", cont)
               .filter(F.col("containment") >= self.threshold)
               .select("i", "j", "containment"))
        return pcoll.with_df(out)


def _band_keys(sig_df: DataFrame, idc: str, bands: int, rows: int) -> DataFrame:
    """Explode a (id, sig) frame into LSH band keys: one row per band,
    bk = (band index, xxhash64 of that band's signature slice)."""
    return sig_df.select(
        idc, F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(F.concat_ws(
                    ",", F.transform(
                        F.slice("sig", b * rows + 1, rows),
                        lambda v: v.cast("string")))).alias("bucket")))
        ).alias("bk"))


def suggest_bands(threshold: float, num_perm: int = 128
                  ) -> tuple[int, int]:
    """LSH parameter advisor: choose (bands, rows) with bands*rows <=
    num_perm whose S-curve midpoint (1/bands)^(1/rows) sits closest
    to the target Jaccard ``threshold`` (ties prefer MORE bands =
    higher recall at the threshold). The standard datasketch-style
    planner, deterministic and driver-only — feed the result to
    MinHashLSH(num_perm=bands*rows, bands=bands)."""
    if not 0.0 < float(threshold) < 1.0:
        raise ValueError(f"threshold {threshold} outside (0, 1)")
    if int(num_perm) < 2:
        raise ValueError(f"num_perm {num_perm}: need >= 2")
    best = None
    for b in range(1, int(num_perm) + 1):
        r = int(num_perm) // b
        if r < 1:
            break
        mid = (1.0 / b) ** (1.0 / r)
        key = (abs(mid - float(threshold)), -b)
        if best is None or key < best[0]:
            best = (key, (b, r))
    return best[1]


class MinHashLSH(PTransform):
    """MinHash signature + banded LSH candidate generation + exact-jaccard
    verification.

    num_perm = bands * rows_per_band min-hashes per doc; docs sharing any
    band bucket become candidates; candidates are verified with exact
    jaccard on the shingle arrays. Output: (i, j, jaccard) pairs with
    jaccard >= threshold — same contract as NgramJaccardPairs but with
    LSH-bounded join fan-in, the 100 TB path.
    """

    def __init__(self, text_col: str = "text", id_col: str = "doc_id",
                 n: int = 3, bands: int = 16, rows_per_band: int = 8,
                 threshold: float = 0.6, verify: bool = True, label=None):
        super().__init__(label)
        self.text_col, self.id_col = text_col, id_col
        self.n, self.bands, self.rows = n, bands, rows_per_band
        self.threshold, self.verify = threshold, verify

    def _with_signature(self, sh_df: DataFrame, idc: str) -> DataFrame:
        """Append the num_perm min-hash signature array.

        The base hash per shingle is JVM-side xxhash64 (one pass); the
        k=bands*rows permutations h_i = (a_i*base + b_i) mod M31 are
        evaluated in an Arrow batch with numpy (outer product + min per
        axis) — the 128-permutation inner loop is the hot spot and
        interpreted Catalyst higher-order functions are ~30x slower here.
        Determinism: pure int64 modular arithmetic, identical on every
        executor."""
        import numpy as np
        import pandas as pd

        params = _perm_params(self.bands * self.rows)
        A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
        B = np.array([b for _, b in params], dtype=np.int64)[:, None]

        with_base = sh_df.withColumn(
            "base", F.transform("sh", lambda s: F.pmod(F.xxhash64(s),
                                                       F.lit(_MERSENNE_31))))

        def gen(batches):
            for pdf in batches:
                sigs = []
                for h in pdf["base"]:
                    hv = np.asarray(h, dtype=np.int64)[None, :]
                    sigs.append(((A * hv + B) % _MERSENNE_31).min(axis=1))
                out = pdf[[idc]].copy()
                out["sig"] = sigs
                yield out

        # only (id, sig) comes back — the shingle arrays stay in the
        # persisted sh frame (caching them twice doubled memory+serde)
        id_type = sh_df.schema[idc].dataType.simpleString()
        return with_base.select(idc, "base").mapInPandas(
            gen, schema=f"{idc} {id_type}, sig array<long>")

    def expand(self, pcoll: PCollection) -> PCollection:
        idc = self.id_col
        # sh is reused for candidate verification, bands is self-joined
        sh = self.pin(_shingle_sets(pcoll.df, idc, self.text_col, self.n),
                      pcoll)
        sig = self.pin(self._with_signature(sh, idc), pcoll)
        bands = self.pin(_band_keys(sig, idc, self.bands, self.rows), pcoll)
        cand = (bands.select(F.col(idc).alias("i"), "bk")
                .join(bands.select(F.col(idc).alias("j"), "bk"), on="bk")
                .filter(F.col("i") < F.col("j"))
                .select("i", "j").distinct())
        if not self.verify:
            return pcoll.with_df(cand)
        # exact verification on candidate pairs only
        sets_i = sh.select(F.col(idc).alias("i"), F.col("sh").alias("sh_i"))
        sets_j = sh.select(F.col(idc).alias("j"), F.col("sh").alias("sh_j"))
        verified = (cand.join(sets_i, on="i").join(sets_j, on="j")
                    .withColumn("common", F.size(F.array_intersect("sh_i", "sh_j")))
                    .withColumn("jaccard", F.col("common") /
                                (F.size("sh_i") + F.size("sh_j") - F.col("common")))
                    .filter(F.col("jaccard") >= self.threshold)
                    .select("i", "j", "jaccard"))
        return pcoll.with_df(verified)


class SimHash(PTransform):
    """64-bit SimHash fingerprint per document.

    Token hashes vote per bit position, weighted by term frequency; the
    64 per-bit vote sums are plain aggregate columns (one wide codegen'd
    HashAggregate), then recombined into one BIGINT fingerprint.
    """

    def __init__(self, text_col: str = "text", id_col: str = "doc_id",
                 hash_fn: str = "xxhash64", label=None):
        super().__init__(label)
        self.text_col, self.id_col = text_col, id_col
        if hash_fn not in ("xxhash64", "md5"):
            raise ValueError(hash_fn)
        #: 'xxhash64' is the scale default (one JVM hash per token);
        #: 'md5' derives the 64 bits from the md5 hex digest (two 32-bit
        #: halves) — slower, but portable SQL (DuckDB md5 is identical),
        #: which is what the correctness gate's full oracle recomputes.
        self.hash_fn = hash_fn

    def expand(self, pcoll: PCollection) -> PCollection:
        idc = self.id_col
        # Zero-shuffle formulation: the whole 64-bit vote aggregation is
        # ONE projection per document — distinct tokens fold through
        # aggregate() with a 64-wide zip_with accumulator, then the sign
        # bits recombine with a bitwise-or fold. No explode, no groupBy:
        # a pure map-side scan that trivially survives any scale-up
        # (previous shape shuffled (id, 64 partial votes) per doc).
        if self.hash_fn == "xxhash64":
            h_expr = "xxhash64(t) AS h, CAST(0 AS BIGINT) AS hh"
            bit_expr = "(shiftright(e.h, b) & 1)"
        else:
            h_expr = ("CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) AS h, "
                      "CAST(conv(substring(md5(t), 9, 8), 16, 10) AS BIGINT) AS hh")
            bit_expr = ("(IF(b < 32, shiftright(e.h, b), "
                        "shiftright(e.hh, b - 32)) & 1)")
        votes_expr = f"""
            aggregate(
              transform(array_distinct(__w), t -> struct(
                {h_expr}, CAST(size(filter(__w, x -> x = t)) AS BIGINT) AS w)),
              array_repeat(CAST(0 AS BIGINT), 64),
              (acc, e) -> zip_with(acc,
                transform(sequence(0, 63),
                          b -> IF({bit_expr} = 1, e.w, -e.w)),
                (a, v) -> a + v))
        """
        fp_expr = """
            aggregate(
              zip_with(__votes, sequence(0, 63),
                       (v, b) -> IF(v > 0, shiftleft(CAST(1 AS BIGINT), b),
                                    CAST(0 AS BIGINT))),
              CAST(0 AS BIGINT), (a, x) -> a | x)
        """
        out = (pcoll.df
               .select(idc, tokens(self.text_col).alias("__w"))
               .withColumn("__votes", F.expr(votes_expr))
               .select(F.col(idc), F.expr(fp_expr).alias("simhash")))
        return pcoll.with_df(out)


class SimHashNearDupPairs(PTransform):
    """Near-dup pairs with hamming(simhash) <= max_distance.

    Pigeonhole bucketing: split the 64-bit fingerprint into
    ``max_distance+1`` chunks; any pair within distance shares at least
    one exact chunk, so candidates join on (chunk index, chunk value)
    instead of cross-joining. Verify with bit_count(xor).
    """

    def __init__(self, text_col: str = "text", id_col: str = "doc_id",
                 max_distance: int = 3, hash_fn: str = "xxhash64",
                 label=None):
        super().__init__(label)
        self.text_col, self.id_col = text_col, id_col
        self.max_distance = max_distance
        self.hash_fn = hash_fn  # see SimHash: 'md5' is the portable form

    def expand(self, pcoll: PCollection) -> PCollection:
        idc = self.id_col
        fp = self.pin((pcoll | SimHash(self.text_col, self.id_col,
                                       hash_fn=self.hash_fn)).df, pcoll)
        n_chunks = self.max_distance + 1
        width = 64 // n_chunks
        chunks = fp.select(
            idc, "simhash",
            F.explode(F.array(*[
                F.struct(F.lit(c).alias("c"),
                         F.shiftrightunsigned("simhash", c * width)
                         .bitwiseAND((1 << width) - 1).alias("v"))
                for c in range(n_chunks)])).alias("ck"))
        a = chunks.select(F.col(idc).alias("i"), F.col("simhash").alias("fi"), "ck")
        b = chunks.select(F.col(idc).alias("j"), F.col("simhash").alias("fj"), "ck")
        out = (a.join(b, on="ck").filter(F.col("i") < F.col("j"))
               .select("i", "j", "fi", "fj").distinct()
               .withColumn("hamming", F.bit_count(
                   F.col("fi").bitwiseXOR(F.col("fj"))))
               .filter(F.col("hamming") <= self.max_distance)
               .select("i", "j", "hamming"))
        return pcoll.with_df(out)


class ConnectedComponents(PTransform):
    """Transitive closure of a near-dup pair graph -> (node, component)
    with component = MIN node id in each component. The missing last
    stage of a real dedup pipeline: MinHash/SimHash emit PAIRS, but
    keep/drop decisions need CLUSTERS (A~B, B~C => {A,B,C} keep one).

    Input: a PCollection of (i, j) edges (i < j convention not
    required). Output: one row per node appearing in any edge.

    Spark design: distributed min-label propagation — labels(node) =
    min(label over undirected neighbors + self), iterated to a fixed
    point. Each round is one shuffle (join on node + min-agg); the
    driver only sees one label sum per round. Near-dup components
    are near-cliques (tiny diameter), so rounds ~ 2-3 in practice;
    ``max_iterations`` bounds adversarial chains. Both algorithms run
    their rounds through ``graph._fixed_point``, which checkpoints
    every round so the plan doesn't grow.

    ``algorithm='star'`` switches to the alternating large-star /
    small-star formulation (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): each large-star round hangs every
    HIGHER-numbered neighbor of u off min(N(u) ∪ {u}), each small-star
    round re-hangs the lower neighbors — component diameter roughly
    halves per round pair, so a diameter-D chain converges in O(log D)
    rounds instead of D. Same per-round shape (one groupBy + join);
    choose it when the pair graph may contain long chains (default
    'label' is 2-3 rounds on the near-clique graphs near-dup pipelines
    produce).

    Beam parity: the reference has no built-in CC; Beam users hand-roll
    this same loop over GroupByKey (or export to a graph engine).
    """

    def __init__(self, i_col: str = "i", j_col: str = "j",
                 max_iterations: int = 25, on_nonconverged: str = "warn",
                 algorithm: str = "label", label=None):
        super().__init__(label)
        self.i_col, self.j_col = i_col, j_col
        self.max_iterations = max_iterations
        if on_nonconverged not in ("warn", "raise"):
            raise ValueError("on_nonconverged must be 'warn' or 'raise'")
        self.on_nonconverged = on_nonconverged
        if algorithm not in ("label", "star"):
            raise ValueError("algorithm must be 'label' or 'star'")
        self.algorithm = algorithm

    def _nonconverged(self):
        import warnings

        msg = (f"ConnectedComponents did not reach a fixed point in "
               f"{self.max_iterations} iterations — component labels "
               f"are UNCONVERGED. Raise max_iterations"
               + (" (or use algorithm='star' for log-diameter "
                  "convergence on chain-shaped graphs)."
                  if self.algorithm == "label" else "."))
        if self.on_nonconverged == "raise":
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=3)

    def _expand_star(self, pcoll: PCollection) -> PCollection:
        """Alternating large-star / small-star rounds to a fixed point.

        Edge invariant: the (directed, deduped) edge set always links
        each node toward a smaller node of its component; at the fixed
        point it is a star forest (v -> component min). Convergence is
        detected by an order-insensitive edge-set fingerprint
        (count + sum of per-edge hashes) going stable."""
        ic, jc = self.i_col, self.j_col
        start = (pcoll.df
                 .select(F.greatest(F.col(ic), F.col(jc)).alias("u"),
                         F.least(F.col(ic), F.col(jc)).alias("v"))
                 .filter(F.col("u") != F.col("v"))
                 .distinct()
                 .localCheckpoint(eager=False))
        nodes = (pcoll.df.select(F.col(ic).alias("node"))
                 .union(pcoll.df.select(F.col(jc).alias("node")))
                 .distinct()
                 .localCheckpoint(eager=False))

        def large_star(e):
            # undirected view; m(u) = min over N(u) ∪ {u}; for every
            # neighbor w > u: edge (w, m(u))
            sym = e.select("u", "v").union(
                e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            mins = sym.groupBy("u").agg(
                F.least(F.min("v"), F.first("u")).alias("m"))
            out = (sym.join(mins, "u")
                   .filter(F.col("v") > F.col("u"))
                   .select(F.col("v").alias("u"), F.col("m").alias("v"))
                   .filter(F.col("u") != F.col("v"))
                   .distinct())
            return out

        def small_star(e):
            # edges already point big -> small; per node u with smaller
            # neighbors N: m = min(N); re-hang N ∪ {u} \ {m} on m
            mins = e.groupBy("u").agg(F.min("v").alias("m"))
            hang_nbrs = (e.join(mins, "u")
                         .filter(F.col("v") != F.col("m"))
                         .select(F.col("v").alias("u"),
                                 F.col("m").alias("v")))
            hang_self = mins.select(F.col("u"), F.col("m").alias("v"))
            return (hang_nbrs.union(hang_self)
                    .filter(F.col("u") != F.col("v"))
                    .distinct())

        def changed(new, prev):
            # edge-set fingerprints (count, sum of per-edge hashes),
            # new minus prev in one pass: both phases are deterministic
            # given the edge SET, so equal fingerprints mean equal sets
            h = F.xxhash64("u", "v").cast("decimal(38,0)")
            row = (new.select(F.lit(1).alias("n"), h.alias("h"))
                   .unionAll(prev.select(F.lit(-1).alias("n"),
                                         (-h).alias("h")))
                   .agg(F.sum("n").alias("n"), F.sum("h").alias("h"))
                   .first())
            return bool(row["n"]) or bool(row["h"])

        edges, _, converged = _fixed_point(
            start, lambda e: small_star(large_star(e)),
            self.max_iterations, changed)
        if not converged:
            self._nonconverged()
        # at the fixed point edges form a star forest: u -> its root.
        # Roots themselves (and isolated self-edges) get comp = node.
        labels = (nodes.join(edges.withColumnRenamed("u", "node"),
                             "node", "left")
                  .select("node",
                          F.coalesce("v", "node").alias("comp"))
                  .groupBy("node").agg(F.min("comp").alias("comp")))
        final = labels.localCheckpoint(eager=True)
        _release_superseded([start, edges, nodes], final)
        return pcoll.with_df(final)

    def expand(self, pcoll: PCollection) -> PCollection:
        if self.algorithm == "star":
            return self._expand_star(pcoll)

        ic, jc = self.i_col, self.j_col
        edges = pcoll.df.select(F.col(ic).alias("a"), F.col(jc).alias("b"))
        # undirected: both directions, once
        sym = edges.union(edges.select(F.col("b").alias("a"),
                                       F.col("a").alias("b"))).distinct()
        sym.persist()
        # seed with min(self, direct neighbors) — equivalent to one
        # propagation round from identity labels, one shuffle cheaper
        seed = (sym.groupBy(F.col("a").alias("node"))
                .agg(F.least(F.min("a"), F.min("b")).alias("comp"))
                .localCheckpoint(eager=False))

        def propagate(lab):
            # candidate labels: own + min over neighbors' current labels
            neighbor = (sym.join(lab, sym["b"] == lab["node"])
                        .select(sym["a"].alias("node"),
                                F.col("comp")))
            return (lab.select("node", "comp").union(neighbor)
                    .groupBy("node")
                    .agg(F.min("comp").alias("comp")))

        def changed(new, prev):
            # labels only ever DECREASE, so equal label sums over the
            # same nodes mean equal labels; summed in DECIMAL(38,0)
            # because a bigint sum wraps silently for node ids near
            # 2^62 and could fake (or hide) a fixed point
            c = F.col("comp").cast("decimal(38,0)")
            return bool(new.select(c.alias("c"))
                        .unionAll(prev.select((-c).alias("c")))
                        .agg(F.sum("c")).first()[0])

        labels, _, converged = _fixed_point(
            seed, propagate, self.max_iterations, changed)
        # the labels' lineage is cut, so the edge cache and seed can go
        sym.unpersist()
        _release_superseded([seed], labels)
        if not converged:
            self._nonconverged()
        return pcoll.with_df(labels)


class Decontaminate(PTransform):
    """Benchmark decontamination: flag training documents whose word
    n-grams overlap a benchmark/eval set — the standard pre-training
    hygiene step (remove eval contamination before training).

    ``benchmark``: a DataFrame with a text column (the eval corpus).
    Output: one row per input document with ``n_contaminated`` (distinct
    overlapping n-grams) and ``contaminated``.

    Scale design: the benchmark n-gram set is built once (distinct
    shingles of the eval corpus — small: benchmarks are MBs, the corpus
    is TBs) and BROADCAST to the corpus-side join, so the exploded
    corpus shingles never shuffle; only the HIT rows (rare) shuffle
    into the per-doc count, and the final left join restores zero-hit
    docs. No Python anywhere.

    Beam parity: no built-in equivalent; Beam users express this as a
    side-input lookup per n-gram (the broadcast join is the Spark form
    of that side input).
    """

    def __init__(self, benchmark: DataFrame, n: int = 3,
                 text_col: str = "text", id_col: str = "doc_id",
                 bench_text_col: str | None = None, label=None):
        super().__init__(label)
        self.benchmark = benchmark
        self.n = n
        self.text_col, self.id_col = text_col, id_col
        self.bench_text_col = bench_text_col or text_col

    def expand(self, pcoll: PCollection) -> PCollection:
        ic = self.id_col
        # pre-project token arrays (Catalyst does not CSE inside lambda
        # bodies — see word_shingles_on)
        docs = pcoll.df.select(
            ic, tokens(self.text_col).alias("__toks"))
        doc_grams = docs.select(
            ic, F.explode(word_shingles_on("__toks", self.n)).alias("gram"))
        bench = (self.benchmark
                 .select(tokens(self.bench_text_col).alias("__toks"))
                 .select(F.explode(
                     word_shingles_on("__toks", self.n)).alias("gram"))
                 .distinct())
        hits = (doc_grams.join(F.broadcast(bench), "gram")
                .groupBy(ic)
                .agg(F.count("*").alias("n_contaminated")))
        out = (pcoll.df.select(ic).join(hits, ic, "left")
               .select(ic,
                       F.coalesce("n_contaminated", F.lit(0))
                       .alias("n_contaminated"))
               .withColumn("contaminated", F.col("n_contaminated") > 0))
        return pcoll.with_df(out)


class LineDedup(PTransform):
    """Corpus-level line deduplication (the C4/RefinedWeb step): every
    line that appears anywhere else in the corpus keeps only its FIRST
    occurrence (ordered by (doc id, line position)); later copies are
    dropped and documents are reassembled from their surviving lines.

    Lines shorter than ``min_len`` after trimming (e.g. blank separator
    lines) pass through untouched — deduplicating those would strip
    formatting corpus-wide.

    Output: one row per input document — ``text`` (reassembled),
    ``n_kept``, ``n_dropped``.

    Scale design: two shuffles, both keyed safely — (1) a window over
    the LINE value assigns first-occurrence rank (hot identical lines
    concentrate on one key: the very lines this op exists to delete;
    their rank-1 scan is a single sorted partition pass), (2) the
    per-document regroup to reassemble text. All expressions, no
    Python.
    """

    def __init__(self, text_col: str = "text", id_col: str = "doc_id",
                 sep: str = "\n", min_len: int = 1, label=None):
        super().__init__(label)
        self.text_col, self.id_col = text_col, id_col
        self.sep, self.min_len = sep, min_len

    def expand(self, pcoll: PCollection) -> PCollection:
        from pyspark.sql.window import Window

        ic, tc = self.id_col, self.text_col
        lines = pcoll.df.select(
            ic, F.posexplode(F.split(F.col(tc), self.sep, -1))
            .alias("__pos", "__line"))
        w = Window.partitionBy("__line").orderBy(ic, "__pos")
        ranked = lines.withColumn("__rn", F.row_number().over(w))
        kept = ranked.withColumn(
            "__keep", (F.col("__rn") == 1)
            | (F.length(F.trim("__line")) < self.min_len))
        per_doc = (kept.groupBy(ic).agg(
            F.concat_ws(self.sep, F.transform(
                F.array_sort(F.collect_list(F.when(
                    F.col("__keep"),
                    F.struct(F.col("__pos"), F.col("__line"))))),
                lambda s: s["__line"])).alias(tc),
            F.count_if(F.col("__keep")).alias("n_kept"),
            F.count_if(~F.col("__keep")).alias("n_dropped")))
        return pcoll.with_df(per_doc)


class ExactSubstrSpans(PTransform):
    """Duplicated-substring span detection — the window-hash form of
    ExactSubstr dedup (Lee et al. 2021, arXiv:2107.06499 §4.1): every
    k-token window whose text occurs >= ``min_count`` times ANYWHERE in
    the corpus marks its span as duplicated; a doc's duplicated
    coverage is the union of its marked [pos, pos+k-1] spans. The paper
    builds a suffix array to find maximal repeats >= 50 tokens; fixed-k
    sliding windows find exactly the same spans whenever the repeat is
    >= k tokens (every length-k subwindow of a repeat is itself a
    repeat), trading the non-distributable suffix array for two
    hash-keyed shuffles.

    Output (one row per doc): ``n_tokens``, ``dup_windows`` (marked
    window count), ``dup_token_cov`` (tokens under the span union),
    ``dup_frac``.

    Scale: windows explode k per token position, but ``hash_grams=True``
    (default) replaces each gram string with xxhash64 BEFORE the
    shuffle, so the heavy groupBy+join moves 8-byte keys, not k-token
    strings. Coverage union is gaps-and-islands over (doc, pos) — one
    window partitioned by doc. hash_grams=False keeps the raw gram
    string end-to-end (what the cross-engine oracle compares;
    collision-free by construction).
    """

    def __init__(self, k: int = 50, min_count: int = 2,
                 text_col: str = "text", id_col: str = "doc_id",
                 hash_grams: bool = True, label=None):
        super().__init__(label)
        self.k, self.min_count = int(k), int(min_count)
        self.text_col, self.id_col = text_col, id_col
        self.hash_grams = hash_grams

    def expand(self, pcoll: PCollection) -> PCollection:
        from pyspark.sql import Window

        k, idc = self.k, self.id_col
        toks = F.filter(F.split(F.trim(F.col(self.text_col)), r"\s+"),
                        lambda w: w != "")
        base = pcoll.df.select(F.col(idc),
                               toks.alias("__w")).withColumn(
            "n_tokens", F.size("__w"))

        # positions 1..n-k+1 (sequence(1, max(...,1)) then filter guards
        # docs shorter than k: Spark's sequence(1, 0) is descending, not
        # empty)
        wins = (base
                .select(idc, "n_tokens", "__w",
                        F.explode(F.sequence(
                            F.lit(1),
                            F.greatest(F.col("n_tokens") - (k - 1),
                                       F.lit(1)))).alias("pos"))
                .filter(F.col("pos") + (k - 1) <= F.col("n_tokens"))
                .withColumn("gram",
                            F.concat_ws(" ", F.slice("__w", F.col("pos"),
                                                     k)))
                .drop("__w"))
        if self.hash_grams:
            wins = wins.withColumn("gram", F.xxhash64("gram"))

        dup_grams = (wins.groupBy("gram").count()
                     .filter(F.col("count") >= self.min_count)
                     .select("gram"))
        marked = wins.join(dup_grams, on="gram").select(idc, "pos")

        w_doc = Window.partitionBy(idc).orderBy("pos")
        isl = (marked
               .withColumn("__prev", F.lag("pos").over(w_doc))
               .withColumn("__new", F.when(
                   F.col("__prev").isNull()
                   | (F.col("pos") - F.col("__prev") > k), 1).otherwise(0))
               .withColumn("island", F.sum("__new").over(
                   w_doc.rowsBetween(Window.unboundedPreceding,
                                     Window.currentRow))))
        per_doc = (isl.groupBy(idc, "island")
                   .agg(F.min("pos").alias("mn"), F.max("pos").alias("mx"),
                        F.count(F.lit(1)).alias("nwin"))
                   .groupBy(idc)
                   .agg(F.sum(F.col("mx") - F.col("mn") + k)
                        .alias("dup_token_cov"),
                        F.sum("nwin").alias("dup_windows")))

        out = (base.select(idc, "n_tokens")
               .join(per_doc, on=idc, how="left")
               .select(idc, "n_tokens",
                       F.coalesce("dup_windows", F.lit(0)).alias(
                           "dup_windows"),
                       F.coalesce("dup_token_cov", F.lit(0)).alias(
                           "dup_token_cov"))
               .withColumn("dup_frac", F.round(
                   F.col("dup_token_cov").cast("double")
                   / F.greatest(F.col("n_tokens"), F.lit(1)), 6)))
        return pcoll.with_df(out)


class FuzzyDedupKeep(PTransform):
    """END-TO-END fuzzy dedup decision: MinHash+LSH near-dup pairs ->
    connected components -> one canonical survivor (the MIN doc id) per
    component. This is the composition a real corpus-dedup pipeline
    runs; the pieces (MinHashLSH, ConnectedComponents) exist separately
    — this transform wires them and emits the per-document verdict.

    Output: one row per input document — (id_col, comp, keep) with
    ``comp`` = component label (the doc's own id when it has no
    near-dup) and ``keep`` = 1 iff the doc is its component's minimum
    (the survivor). ``df.filter("keep = 1")`` is the deduplicated
    corpus.

    Scale: inherits the pieces' shapes — banded LSH join for pairs, one
    shuffle per CC round (edges persisted across rounds, released
    after), one final left join back to the corpus on the id.
    """

    def __init__(self, text_col: str = "text", id_col: str = "doc_id",
                 n: int = 3, bands: int = 16, rows_per_band: int = 8,
                 threshold: float = 0.6, label=None):
        super().__init__(label)
        self.text_col, self.id_col, self.n = text_col, id_col, n
        self.bands, self.rows_per_band = bands, rows_per_band
        self.threshold = threshold

    def expand(self, pcoll: PCollection) -> PCollection:
        idc = self.id_col
        mh = MinHashLSH(text_col=self.text_col, id_col=idc, n=self.n,
                        bands=self.bands, rows_per_band=self.rows_per_band,
                        threshold=self.threshold)
        pairs = pcoll | mh
        # CC iterates over the edges; persist so each round doesn't
        # recompute the minhash lineage. CC checkpoints its labels, so
        # nothing downstream reads the pairs or the MinHash frames once
        # the (eager) loop is done.
        pairs.df.persist()
        cc = (pairs | ConnectedComponents()).df
        pairs.df.unpersist()
        mh.release()
        out = (pcoll.df.select(idc)
               .join(cc, on=F.col(idc) == cc["node"], how="left")
               .select(F.col(idc),
                       F.coalesce(cc["comp"], F.col(idc)).alias("comp"))
               .withColumn("keep", (F.col("comp") == F.col(idc))
                           .cast("int")))
        return pcoll.with_df(out)


class DedupAgainstCorpus(PTransform):
    """INCREMENTAL fuzzy dedup: test a new batch of documents against an
    EXISTING corpus (plus the batch's own earlier docs) without ever
    joining corpus x corpus — the "dedup tonight's crawl against the
    lake" operation. A batch doc is a duplicate when its jaccard to any
    corpus doc, or to a lower-id batch doc, reaches ``threshold``.

    Output: one row per batch doc — (id_col, dup_of_corpus,
    dup_of_batch, is_dup): the MIN matching corpus / earlier-batch id
    (NULL when none) and the combined verdict.

    Scale: both sides get MinHash band keys (same machinery as
    MinHashLSH); the only joins are band-bucket equijoins batch x corpus
    and batch x batch, then exact-jaccard verification on candidates.
    Corpus band keys are a pure function of corpus text — persist them
    ONCE with ``save_index(corpus, path)`` and dedup every nightly
    batch against the saved artifact via ``from_index(path)`` (the
    corpus is never re-shingled); passing ``corpus`` instead derives
    the index inline.

    ``materialize=True`` eagerly localCheckpoints the result and
    releases the pinned shingle/band frames before returning.
    """

    def __init__(self, corpus=None, text_col: str = "text",
                 id_col: str = "doc_id", n: int = 3, bands: int = 16,
                 rows_per_band: int = 8, threshold: float = 0.6,
                 index_path: str | None = None, materialize: bool = False,
                 label=None):
        super().__init__(label)
        if (corpus is None) == (index_path is None):
            raise ValueError(
                "pass exactly one of corpus= (inline index) or "
                "index_path= (saved index from save_index())")
        self.corpus = (corpus.df if isinstance(corpus, PCollection)
                       else corpus)
        self.text_col, self.id_col, self.n = text_col, id_col, n
        self.bands, self.rows = bands, rows_per_band
        self.threshold = threshold
        self.index_path, self.materialize = index_path, materialize

    @classmethod
    def save_index(cls, corpus, path: str, text_col: str = "text",
                   id_col: str = "doc_id", n: int = 3, bands: int = 16,
                   rows_per_band: int = 8):
        """Compute the corpus side of the dedup index ONCE and persist
        it as parquet under ``path`` (``shingles/``, ``bands/`` and a
        1-row ``meta/`` recording the parameters). Incremental batches
        then dedup against it with ``from_index(path)`` without ever
        touching corpus text again."""
        df = corpus.df if isinstance(corpus, PCollection) else corpus
        inst = cls(df, text_col=text_col, id_col=id_col, n=n,
                   bands=bands, rows_per_band=rows_per_band)
        mh = MinHashLSH(text_col=text_col, id_col=id_col, n=n,
                        bands=bands, rows_per_band=rows_per_band)
        sh, band_df = inst._prep(df, mh, id_col)
        sh.write.mode("overwrite").parquet(f"{path}/shingles")
        band_df.write.mode("overwrite").parquet(f"{path}/bands")
        df.sparkSession.createDataFrame(
            [(id_col, text_col, n, bands, rows_per_band)],
            "id_col string, text_col string, n int, bands int, rows int"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
        inst.release()

    @classmethod
    def append_to_index(cls, batch, path: str):
        """Fold a (deduplicated) batch into an existing saved index so
        the NEXT batch also dedups against it — the nightly-ingest
        loop: dedup -> filter survivors -> append_to_index. Parameters
        come from the saved meta; writes are parquet appends (no
        rewrite of the existing index)."""
        df = batch.df if isinstance(batch, PCollection) else batch
        spark = df.sparkSession
        meta = spark.read.parquet(f"{path}/meta").collect()[0]
        idc = meta["id_col"]
        inst = cls(df, text_col=meta["text_col"], id_col=idc,
                   n=int(meta["n"]), bands=int(meta["bands"]),
                   rows_per_band=int(meta["rows"]))
        mh = MinHashLSH(text_col=meta["text_col"], id_col=idc,
                        n=int(meta["n"]), bands=int(meta["bands"]),
                        rows_per_band=int(meta["rows"]))
        sh, band_df = inst._prep(df, mh, idc)
        sh.write.mode("append").parquet(f"{path}/shingles")
        band_df.write.mode("append").parquet(f"{path}/bands")
        inst.release()

    @classmethod
    def from_index(cls, index_path: str, threshold: float = 0.6,
                   materialize: bool = False, label=None, **kw):
        """Incremental dedup against an index written by
        ``save_index``; shingle/band parameters come from the saved
        meta (constructor overrides are ignored for the corpus side)."""
        return cls(index_path=index_path, threshold=threshold,
                   materialize=materialize, label=label, **kw)

    def _prep(self, df, mh, idc, pcoll=None):
        sh = self.pin(_shingle_sets(df, idc, self.text_col, self.n), pcoll)
        bands = _band_keys(mh._with_signature(sh, idc), idc,
                           self.bands, self.rows)
        return sh, bands

    def expand(self, pcoll: PCollection) -> PCollection:
        idc, threshold = self.id_col, self.threshold
        spark = pcoll.df.sparkSession
        if self.index_path:
            meta = spark.read.parquet(f"{self.index_path}/meta").collect()[0]
            self.n, self.bands = int(meta["n"]), int(meta["bands"])
            self.rows = int(meta["rows"])
            sh_c = spark.read.parquet(f"{self.index_path}/shingles")
            bands_c = spark.read.parquet(f"{self.index_path}/bands")
            if meta["id_col"] != idc:
                sh_c = sh_c.withColumnRenamed(meta["id_col"], idc)
                bands_c = bands_c.withColumnRenamed(meta["id_col"], idc)
        mh = MinHashLSH(text_col=self.text_col, id_col=idc, n=self.n,
                        bands=self.bands, rows_per_band=self.rows,
                        threshold=threshold)
        sh_b, bands_b = self._prep(pcoll.df, mh, idc, pcoll)
        if not self.index_path:
            sh_c, bands_c = self._prep(self.corpus, mh, idc, pcoll)
        bands_b = self.pin(bands_b, pcoll)

        def verify(cand, sh_ref):
            left = sh_b.select(F.col(idc).alias("b"), F.col("sh").alias("sh_b"))
            right = sh_ref.select(F.col(idc).alias("r"),
                                  F.col("sh").alias("sh_r"))
            return (cand.join(left, on="b").join(right, on="r")
                    .withColumn("common",
                                F.size(F.array_intersect("sh_b", "sh_r")))
                    .withColumn("jaccard", F.col("common") /
                                (F.size("sh_b") + F.size("sh_r")
                                 - F.col("common")))
                    .filter(F.col("jaccard") >= threshold)
                    .groupBy("b").agg(F.min("r").alias("dup_of")))

        cand_cb = (bands_b.select(F.col(idc).alias("b"), "bk")
                   .join(bands_c.select(F.col(idc).alias("r"), "bk"), on="bk")
                   .select("b", "r").distinct())
        cand_bb = (bands_b.select(F.col(idc).alias("b"), "bk")
                   .join(bands_b.select(F.col(idc).alias("r"), "bk"), on="bk")
                   .filter(F.col("r") < F.col("b"))
                   .select("b", "r").distinct())
        vs_corpus = verify(cand_cb, sh_c).withColumnRenamed(
            "dup_of", "dup_of_corpus")
        vs_batch = verify(cand_bb, sh_b).withColumnRenamed(
            "dup_of", "dup_of_batch")

        out = (pcoll.df.select(F.col(idc).alias("b"))
               .join(vs_corpus, on="b", how="left")
               .join(vs_batch, on="b", how="left")
               .select(F.col("b").alias(idc), "dup_of_corpus",
                       "dup_of_batch",
                       (F.col("dup_of_corpus").isNotNull()
                        | F.col("dup_of_batch").isNotNull())
                       .cast("int").alias("is_dup")))
        # sh_b/sh_c/bands_b stay pinned: the result is LAZY, and its
        # first action reads each 2-3x (bands + two verifies / cand_cb
        # + cand_bb)
        if self.materialize:
            out = out.localCheckpoint(eager=True)
            self.release()
        return pcoll.with_df(out)


class EditDistanceJoin(PTransform):
    """All pairs of strings within Levenshtein distance <= ``k`` —
    fuzzy-match dedup for names/titles/short fields where token-level
    Jaccard is too coarse. Output: (i, j, dist) with i < j.

    Candidate pruning (the q-gram COUNT FILTER, Gravano et al. 2001):
    strings at edit distance <= k share at least
    ``max(|a|,|b|) - q + 1 - q*k`` q-grams (bag semantics), so the
    gram-keyed self-join + per-pair bag-intersection count prunes
    everything below the bound BEFORE any distance evaluation; exact
    ``levenshtein() <= k`` verifies survivors (JVM builtin, no
    Python). Strings too short for the q-gram bound to prune
    (max(len) <= q*k + q - 1 — they may share zero q-grams with a
    true match) route through a q=1 count-filter band instead: the
    CHARACTER bags of strings at distance <= k share at least
    ``max(|a|,|b|) - k`` entries (each edit disturbs at most one bag
    entry), a bound valid at ANY length, so the short band is a
    character-keyed join, never a cross. Only pairs with BOTH
    lengths <= k are unfilterable in principle — lev(a,b) <=
    max(|a|,|b|) <= k means every such pair is a match and the
    OUTPUT itself is quadratic in their count; that residual band is
    a guarded cross (``short_cross_max``, fail-fast with an
    actionable error). The three bands partition the pair space by
    max length, so nothing is missed or duplicated.

    Positional PREFIX filter (ED-Join, Xiao et al. 2008 — the
    default): order every gram occurrence globally by (document
    frequency, gram, occurrence#) and keep only each string's first
    ``q*k + 1`` occurrences — two strings within distance k must
    share an occurrence inside both prefixes (the prefix lemma over
    the count-filter threshold), so the candidate join runs on the
    RAREST grams only and the hot-gram posting lists ("th", "er")
    that dominate the all-grams join never enter it. Exact
    ``levenshtein() <= k`` still verifies every survivor, so pruning
    stays lossless. ``prefix_filter=False`` falls back to the full
    gram join + count filter (the round-7 path).

    Scale: prefix mode joins ~q*k+1 rows per string keyed on its
    rarest grams (skew-proof by construction; the df ranking costs
    one gram-keyed aggregation); the fallback joins every gram with
    posting-list fan-in as the documented skew unit; the short band
    joins <= thresh 1-gram rows per string (character-keyed fan-in);
    the tiny both-lengths<=k band is a cross whose size is checked
    up front against ``short_cross_max`` — on a real corpus (names,
    codes) that set can be millions of rows and the quadratic
    OUTPUT, not the plan, is the problem, so the operator refuses
    with instructions rather than silently exploding.
    """

    def __init__(self, text_col: str = "text", id_col: str = "doc_id",
                 k: int = 1, q: int = 2, queries=None,
                 query_text_col: str | None = None,
                 query_id_col: str | None = None,
                 prefix_filter: bool = True,
                 short_cross_max: int = 10_000_000, label=None):
        """``queries``: optional second frame — output pairs are then
        (i from queries, j from corpus, dist), the lookup flavor
        (match incoming names against a reference list) instead of the
        self-join; candidate pruning is identical."""
        super().__init__(label)
        if k < 1 or q < 2:
            raise ValueError("need k >= 1 and q >= 2")
        self.text_col, self.id_col = text_col, id_col
        self.k, self.q = int(k), int(q)
        self.queries = (queries.df
                        if isinstance(queries, PCollection)
                        else queries)
        self.query_text_col = query_text_col or text_col
        self.query_id_col = query_id_col or id_col
        self.prefix_filter = bool(prefix_filter)
        self.short_cross_max = int(short_cross_max)

    def expand(self, pcoll: PCollection) -> PCollection:
        k, q = self.k, self.q
        idc, tc = self.id_col, self.text_col
        thresh = q * k + q - 1     # max-length boundary of the paths

        def prep(df, id_col, t_col):
            return (df.select(F.col(id_col).alias("id"),
                              F.col(t_col).alias("s"))
                    .where(F.col("s").isNotNull())
                    .withColumn("len", F.length("s")))

        def gramify(frame):
            return (frame.where(F.col("len") >= q)
                    .select("id", "len", "s", F.explode(F.expr(
                        f"transform(sequence(1, length(s) - {q} + 1),"
                        f" p -> substring(s, p, {q}))")).alias("g"))
                    .groupBy("id", "len", "s", "g")
                    .agg(F.count(F.lit(1)).alias("c")))

        s = prep(pcoll.df, idc, tc)
        two_frame = self.queries is not None
        sq = (prep(self.queries, self.query_id_col,
                   self.query_text_col) if two_frame else s)

        # ---- gram path: pairs whose LONGER string exceeds thresh ----
        grams = gramify(s)
        gq = gramify(sq) if two_frame else grams
        pair_pred = (F.lit(True) if two_frame
                     else (F.col("i") < F.col("j")))
        if self.prefix_filter:
            from pyspark.sql import Window

            # one consistent global occurrence order for BOTH frames:
            # (corpus document frequency, gram, occurrence#) — grams
            # the corpus never saw are rarest of all (df 0; they can
            # only match in two-frame mode anyway)
            gdf = grams.groupBy("g").agg(
                F.count(F.lit(1)).alias("__df"))
            plen = q * k + 1

            def prefix(frame):
                # plain join: the df table is distinct-gram-sized —
                # usually broadcastable, but let AQE decide instead of
                # pinning a broadcast on an unbounded-cardinality side
                occ = (frame
                       .join(gdf, on="g", how="left")
                       .withColumn("__df", F.coalesce("__df",
                                                      F.lit(0)))
                       .withColumn("occ", F.explode(F.expr(
                           "sequence(1, c)"))))
                w = (Window.partitionBy("id")
                     .orderBy("__df", "g", "occ"))
                return (occ.withColumn("__rn", F.row_number().over(w))
                        .where(F.col("__rn") <= plen)
                        .select("id", "len", "s", "g", "occ"))

            pa = prefix(gq).select(
                F.col("id").alias("i"), F.col("len").alias("la"),
                F.col("s").alias("sa"), "g", "occ")
            pb = prefix(grams).select(
                F.col("id").alias("j"), F.col("len").alias("lb"),
                F.col("s").alias("sb"), "g", "occ")
            long_pairs = (pa.join(pb, on=["g", "occ"])
                          .where(pair_pred
                                 & (F.abs(F.col("la") - F.col("lb"))
                                    <= k)
                                 & (F.greatest("la", "lb") > thresh))
                          .select("i", "j", "la", "lb", "sa", "sb")
                          .distinct()
                          .withColumn("dist", F.levenshtein("sa", "sb"))
                          .where(F.col("dist") <= k))
        else:
            a = gq.select(F.col("id").alias("i"),
                          F.col("len").alias("la"),
                          F.col("s").alias("sa"), "g",
                          F.col("c").alias("ca"))
            b = grams.select(F.col("id").alias("j"),
                             F.col("len").alias("lb"),
                             F.col("s").alias("sb"), "g",
                             F.col("c").alias("cb"))
            common = (a.join(b, on="g")
                      .where(pair_pred
                             & (F.abs(F.col("la") - F.col("lb")) <= k))
                      .groupBy("i", "j", "la", "lb", "sa", "sb")
                      .agg(F.sum(F.least("ca", "cb")).alias("__common")))
            bound = F.greatest("la", "lb") - q + 1 - q * k
            long_pairs = (common
                          .where(F.greatest("la", "lb") > thresh)
                          .where(F.col("__common") >= bound)
                          .withColumn("dist", F.levenshtein("sa", "sb"))
                          .where(F.col("dist") <= k))

        # ---- short band: k < max(len) <= thresh ----
        # The q-gram bound is vacuous at these lengths, but the q=1
        # count filter holds at ANY length: ed(a,b) <= k implies the
        # CHARACTER bags share >= max(|a|,|b|) - k entries (each edit
        # disturbs at most one bag entry), and that bound is >= 1
        # whenever max(len) > k — so this band is a character-keyed
        # join, never a cross.
        def onegramify(frame):
            return (frame
                    .where((F.col("len") <= thresh) & (F.col("len") >= 1))
                    .select("id", "len", "s", F.explode(F.expr(
                        "transform(sequence(1, length(s)),"
                        " p -> substring(s, p, 1))")).alias("g"))
                    .groupBy("id", "len", "s", "g")
                    .agg(F.count(F.lit(1)).alias("c")))

        oa = onegramify(sq).select(
            F.col("id").alias("i"), F.col("len").alias("la"),
            F.col("s").alias("sa"), "g", F.col("c").alias("ca"))
        ob = onegramify(s).select(
            F.col("id").alias("j"), F.col("len").alias("lb"),
            F.col("s").alias("sb"), "g", F.col("c").alias("cb"))
        short_pairs = (oa.join(ob, on="g")
                       .where(pair_pred
                              & (F.abs(F.col("la") - F.col("lb")) <= k)
                              & (F.greatest("la", "lb") > k))
                       .groupBy("i", "j", "la", "lb", "sa", "sb")
                       .agg(F.sum(F.least("ca", "cb")).alias("__common"))
                       .where(F.col("__common")
                              >= F.greatest("la", "lb") - k)
                       .withColumn("dist", F.levenshtein("sa", "sb"))
                       .where(F.col("dist") <= k))

        # ---- residual band: BOTH lengths <= k ----
        # lev(a, b) <= max(|a|, |b|) <= k: every pair is a match, so
        # the output itself is quadratic in this set's size — no
        # filter can help. Guarded cross with a fail-fast count.
        ta = (sq.where(F.col("len") <= k)
              .select(F.col("id").alias("i"), F.col("s").alias("sa")))
        tb = (s.where(F.col("len") <= k)
              .select(F.col("id").alias("j"), F.col("s").alias("sb")))
        nb = tb.count()
        na = ta.count() if two_frame else nb
        n_pairs = na * nb if two_frame else nb * (nb - 1) // 2
        if n_pairs > self.short_cross_max:
            raise ValueError(
                f"EditDistanceJoin: {nb if not two_frame else (na, nb)}"
                f" strings have length <= k={k}; every such pair is "
                f"within distance k (lev <= max(len)), so the output "
                f"alone is {n_pairs:,} pairs (> short_cross_max="
                f"{self.short_cross_max:,}). Filter length <= {k} "
                f"strings upstream, dedup identical values first, or "
                f"raise short_cross_max deliberately.")
        tiny_pairs = (ta.crossJoin(tb)
                      .where(pair_pred)
                      .withColumn("dist", F.levenshtein("sa", "sb")))

        out = (long_pairs.select("i", "j", F.col("dist").cast("int")
                                 .alias("dist"))
               .unionByName(short_pairs.select(
                   "i", "j", F.col("dist").cast("int").alias("dist")))
               .unionByName(tiny_pairs.select(
                   "i", "j", F.col("dist").cast("int").alias("dist"))))
        return pcoll.with_df(out)


class SortedNeighborhoodPairs(PTransform):
    """Sorted-neighborhood dedup blocking (Hernandez & Stolfo 1995):
    sort the corpus by a blocking key and emit every pair of rows
    within ``window`` positions of each other — the classic
    linear-candidate-count alternative to LSH banding when a decent
    sort key exists (name, address, normalized title). Output:
    (i, j, d) with i the earlier row in sort order and d the rank
    distance (1 <= d < window); feed the pairs to a verifier
    (EditDistanceJoin semantics, jaccard, a scorer) downstream.

    Scale: the global sort position is computed WITHOUT a
    single-partition window — repartitionByRange(key, id) +
    sortWithinPartitions gives contiguous sorted ranges, per-partition
    local indexes come from one partition-keyed window, and partition
    offsets (one count per partition, collected — num_partitions
    rows) lift local to global rank. Candidates are then one
    EQUIJOIN on rank+d after a (window-1)-way fan-out — fully
    distributed, shuffle keyed on the rank. The ranked frame is
    localCheckpointed so the sampled range boundaries cannot drift
    between the offset count and the join (repartitionByRange samples
    are otherwise recomputation-unstable).
    """

    def __init__(self, key_col: str, id_col: str = "doc_id",
                 window: int = 3, num_partitions: int | None = None,
                 label=None):
        super().__init__(label)
        if window < 2:
            raise ValueError("window must be >= 2")
        self.key_col, self.id_col = key_col, id_col
        self.window = int(window)
        self.num_partitions = num_partitions

    def expand(self, pcoll: PCollection) -> PCollection:
        from pyspark.sql import Window

        kc, idc, w = self.key_col, self.id_col, self.window
        df = pcoll.df
        parts = (df.repartitionByRange(self.num_partitions, kc, idc)
                 if self.num_partitions
                 else df.repartitionByRange(kc, idc))
        local = (parts.sortWithinPartitions(kc, idc)
                 .withColumn("__pid", F.spark_partition_id())
                 .localCheckpoint(eager=True))
        sizes = {r["__pid"]: r["cnt"] for r in
                 local.groupBy("__pid")
                 .agg(F.count(F.lit(1)).alias("cnt")).collect()}
        offsets, acc = {}, 0
        for pid in sorted(sizes):
            offsets[pid] = acc
            acc += sizes[pid]
        off_expr = F.lit(0).cast("long")
        for pid, off in offsets.items():
            off_expr = (F.when(F.col("__pid") == pid, F.lit(off))
                        .otherwise(off_expr))
        lw = Window.partitionBy("__pid").orderBy(kc, idc)
        ranked = (local
                  .withColumn("__rn", off_expr
                              + F.row_number().over(lw).cast("long"))
                  .select(F.col(idc), F.col(kc), "__rn")
                  .localCheckpoint(eager=True))
        a = (ranked.select(F.col(idc).alias("i"),
                           F.col("__rn").alias("__ra"))
             .withColumn("d", F.explode(F.expr(
                 f"sequence(1, {w - 1})")))
             .withColumn("__rb", F.col("__ra") + F.col("d")))
        b = ranked.select(F.col(idc).alias("j"),
                          F.col("__rn").alias("__rb"))
        out = (a.join(b, on="__rb")
               .select("i", "j", F.col("d").cast("int").alias("d")))
        return pcoll.with_df(out)


class JaccardPrefixJoin(PTransform):
    """EXACT jaccard similarity join via prefix filtering (AllPairs /
    PPJoin, Bayardo et al. 2007 / Xiao et al. 2008) — the third point
    on the dedup cost spectrum: NgramJaccardPairs is exact but joins
    EVERY shingle (sum of df^2 — quadratic in hot shingles),
    MinHashLSH is subquadratic but approximate; this is exact AND
    subquadratic. Output: (i, j, jaccard) with jaccard >= threshold,
    identical contract to NgramJaccardPairs.

    Prefix principle: order each doc's shingle set by a FIXED global
    order and keep the first ``s - floor(t*s) + 1`` entries — two
    sets with jaccard >= t must share a prefix entry (overlap >=
    ceil(t * max(|A|,|B|)); floor instead of ceil only lengthens the
    prefix, which is the SAFE direction under float t). Candidates
    also pass the length filter min >= t * max before the exact
    array_intersect verification, so pruning is provably lossless
    under EITHER order.

    ``order``: 'lex' (default) slices the array_sort-ed shingle array
    directly — ZERO extra shuffles (no df table, no ranking window);
    'df' orders by (corpus document frequency, shingle) so each doc's
    RAREST shingles form the prefix — hot shingles never enter the
    candidate join (the EditDistanceJoin skew kill), worth its one
    extra aggregation + window whenever the corpus has repeated
    shingles: on the TESTDATA documents corpus at sf0.1, df-order
    emits ~8x fewer candidates and runs 2.3x faster one-shot (3.5s vs
    8.1s) despite the extra shuffle — prefer 'df' unless shingles are
    known near-unique. The verify stage carries the two shingle
    arrays through doc-keyed joins, bounded by the candidate count,
    not the corpus square.
    """

    def __init__(self, text_col: str = "text", id_col: str = "doc_id",
                 n: int = 3, threshold: float = 0.6,
                 order: str = "lex", label=None):
        super().__init__(label)
        if not 0.0 < float(threshold) <= 1.0:
            raise ValueError(f"threshold {threshold} outside (0, 1]")
        if order not in ("lex", "df"):
            raise ValueError(f"order must be 'lex' or 'df', got {order!r}")
        self.text_col, self.id_col = text_col, id_col
        self.n, self.threshold = int(n), float(threshold)
        self.order = order

    def expand(self, pcoll: PCollection) -> PCollection:
        from pyspark.sql import Window

        idc, t = self.id_col, self.threshold
        # sh feeds the prefix AND both verify sides: unpinned, the
        # shingle transform (the dominant expression cost) runs 3x —
        # measured 5x end-to-end slowdown at sf0.1
        sh = self.pin(_shingle_sets(pcoll.df, idc, self.text_col, self.n)
                      .withColumnRenamed(idc, "id")
                      .withColumn("s", F.size("sh")), pcoll)
        plen = (F.col("s")
                - F.floor(F.lit(t) * F.col("s")).cast("int") + 1)
        if self.order == "lex":
            # zero-shuffle prefix: slice the sorted shingle array
            prefix = sh.select(
                "id", "s",
                F.explode(F.slice(F.array_sort("sh"), F.lit(1), plen))
                .alias("tok"))
        else:
            ex = sh.select("id", "s", F.explode("sh").alias("tok"))
            dfreq = ex.groupBy("tok").agg(
                F.count(F.lit(1)).alias("__df"))
            w = Window.partitionBy("id").orderBy("__df", "tok")
            prefix = (ex.join(dfreq, on="tok")
                      .withColumn("__rn", F.row_number().over(w))
                      .filter(F.col("__rn") <= plen)
                      .select("id", "s", "tok"))
        pa = prefix.select(F.col("id").alias("i"),
                           F.col("s").alias("si"), "tok")
        pb = prefix.select(F.col("id").alias("j"),
                           F.col("s").alias("sj"), "tok")
        cand = (pa.join(pb, on="tok")
                .where((F.col("i") < F.col("j"))
                       & (F.least("si", "sj")
                          >= t * F.greatest("si", "sj") - 1e-9))
                .select("i", "j").distinct())
        ai = sh.select(F.col("id").alias("i"), F.col("sh").alias("__a"),
                       F.col("s").alias("si"))
        bj = sh.select(F.col("id").alias("j"), F.col("sh").alias("__b"),
                       F.col("s").alias("sj"))
        c = F.size(F.array_intersect("__a", "__b"))
        out = (cand.join(ai, on="i").join(bj, on="j")
               .withColumn("jaccard",
                           c / (F.col("si") + F.col("sj") - c))
               .filter(F.col("jaccard") >= t)
               .select(F.col("i"), F.col("j"), "jaccard"))
        return pcoll.with_df(out)


class RecordLinkageScore(PTransform):
    """Fellegi-Sunter record-linkage match weights (Fellegi & Sunter
    1969) over CANDIDATE PAIRS — the probabilistic scoring stage that
    follows a blocking stage (SortedNeighborhoodPairs,
    EditDistanceJoin, JaccardPrefixJoin):

        weight(i, j) = sum over compared fields f of
            log2(m_f / u_f)             if the values agree
            log2((1-m_f) / (1-u_f))     if they disagree
            0                           if either side is NULL

    ``fields``: {column: (m, u)} — m = P(agree | match), u =
    P(agree | non-match), the standard EM-estimated or hand-set
    parameters. Agreement is exact equality; pre-normalize columns
    (NormalizeText, UrlNormalize) for fuzzy fields, or feed an edit
    distance as its own agreement column upstream. NULL on either
    side contributes nothing (the standard missing-data convention).

    Input: a pair frame with ``i``/``j`` id columns. ``records``: the
    attribute frame (id_col + field columns); ``right`` optionally a
    second frame for two-corpus linkage (j ids resolve there).
    Output: pairs + ``weight`` (round 6) + ``n_agree``.

    Scale: two id-keyed joins carrying only the compared columns plus
    a pure expression chain — no shuffle beyond the joins, no Python.
    """

    def __init__(self, records, fields, id_col: str = "doc_id",
                 right=None, i_col: str = "i", j_col: str = "j",
                 label=None):
        super().__init__(label)
        self.records = (records.df if isinstance(records, PCollection)
                        else records)
        self.right = (right.df if isinstance(right, PCollection)
                      else right)
        self.fields = {c: (float(m), float(u))
                       for c, (m, u) in dict(fields).items()}
        if not self.fields:
            raise ValueError("fields must be non-empty")
        for c, (m, u) in self.fields.items():
            if not (0.0 < u < m < 1.0):
                raise ValueError(
                    f"{c}: need 0 < u < m < 1, got m={m} u={u}")
        self.id_col, self.i_col, self.j_col = id_col, i_col, j_col

    def expand(self, pcoll: PCollection) -> PCollection:
        import math

        idc = self.id_col
        cols = list(self.fields)
        left = self.records.select(
            F.col(idc).alias(self.i_col),
            *[F.col(c).alias(f"__l_{c}") for c in cols])
        rsrc = self.right if self.right is not None else self.records
        right = rsrc.select(
            F.col(idc).alias(self.j_col),
            *[F.col(c).alias(f"__r_{c}") for c in cols])
        df = (pcoll.df.join(left, on=self.i_col)
              .join(right, on=self.j_col))
        weight = F.lit(0.0)
        agree_n = F.lit(0)
        for c, (m, u) in self.fields.items():
            lc, rc = F.col(f"__l_{c}"), F.col(f"__r_{c}")
            agree = lc == rc
            w_a = math.log2(m / u)
            w_d = math.log2((1.0 - m) / (1.0 - u))
            weight = weight + (
                F.when(lc.isNull() | rc.isNull(), F.lit(0.0))
                .when(agree, F.lit(w_a)).otherwise(F.lit(w_d)))
            agree_n = agree_n + F.when(
                lc.isNotNull() & rc.isNotNull() & agree,
                F.lit(1)).otherwise(F.lit(0))
        out = (df.withColumn("weight", F.round(weight, 6))
               .withColumn("n_agree", agree_n)
               .drop(*[f"__l_{c}" for c in cols],
                     *[f"__r_{c}" for c in cols]))
        return pcoll.with_df(out)


class FellegiSunterEM(PTransform):
    """EM estimation of the Fellegi-Sunter m/u parameters from
    UNLABELED candidate pairs (Winkler 1988's EM formulation of
    Fellegi & Sunter 1969, under conditional independence) — the
    companion to RecordLinkageScore, which CONSUMES hand-set or
    estimated (m, u); this operator produces them from the data.

    Input: a candidate-pair frame (``i_col``/``j_col``) from a
    blocking stage. The pairs join to ``records`` and reduce to
    per-field agreement values (1 agree / 0 disagree / NULL missing),
    then aggregate to agreement-PATTERN counts — at most 3^F rows for
    F fields, INDEPENDENT of corpus size, so the distributed part is
    one keyed aggregation and the fixed-iteration EM runs on the
    driver over the tiny pattern table (the same driver-scale
    argument as PQ codebook fitting). NULL fields drop out of the
    likelihood product for that pair (missing-at-random convention,
    matching RecordLinkageScore's zero-weight rule).

    Per iteration (binary-exact replayable; every sum over patterns
    runs in sorted-pattern order):

        P(g|M) = p * prod_f m_f^g_f (1-m_f)^(1-g_f)   [non-null f]
        P(g|U) = (1-p) * prod_f u_f^g_f (1-u_f)^(1-g_f)
        w_g    = P(g|M) / (P(g|M) + P(g|U))
        p      = sum n_g w_g / sum n_g
        m_f    = sum_{g_f=1} n_g w_g / sum_{g_f != NULL} n_g w_g
        u_f    = likewise with (1-w_g)

    m/u clamp to [2^-20, 1 - 2^-20] each step (degenerate EM
    fixpoints otherwise produce infinite log-weights; the bounds are
    BINARY-EXACT so the SQL replay clamps to bit-identical values);
    a field with zero non-null observations keeps its previous
    estimate.

    Output: one row per field — (field, m, u, p, w_agree,
    w_disagree), weights = log2(m/u) and log2((1-m)/(1-u)), rounded
    to 6 dp. Feed straight into RecordLinkageScore(fields=...).
    """

    MAX_FIELDS = 8   # 3^8 = 6561 driver-side pattern rows, still tiny

    def __init__(self, records, fields, id_col: str = "doc_id",
                 right=None, i_col: str = "i", j_col: str = "j",
                 iterations: int = 5, init_m: float = 0.875,
                 init_u: float = 0.125, init_p: float = 0.125,
                 label=None):
        super().__init__(label)
        self.records = (records.df if isinstance(records, PCollection)
                        else records)
        self.right = (right.df if isinstance(right, PCollection)
                      else right)
        self.fields = list(fields)
        if not self.fields:
            raise ValueError("fields must be non-empty")
        if len(self.fields) > self.MAX_FIELDS:
            raise ValueError(
                f"{len(self.fields)} fields: the pattern table is "
                f"3^F rows; cap is {self.MAX_FIELDS}")
        if not 0.0 < init_u < init_m < 1.0:
            raise ValueError("need 0 < init_u < init_m < 1")
        if not 0.0 < init_p < 1.0:
            raise ValueError("need 0 < init_p < 1")
        if int(iterations) < 1:
            raise ValueError("iterations must be >= 1")
        self.id_col, self.i_col, self.j_col = id_col, i_col, j_col
        self.iterations = int(iterations)
        self.init_m, self.init_u = float(init_m), float(init_u)
        self.init_p = float(init_p)

    def expand(self, pcoll: PCollection) -> PCollection:
        import math

        idc, cols = self.id_col, self.fields
        left = self.records.select(
            F.col(idc).alias(self.i_col),
            *[F.col(c).alias(f"__l_{c}") for c in cols])
        rsrc = self.right if self.right is not None else self.records
        right = rsrc.select(
            F.col(idc).alias(self.j_col),
            *[F.col(c).alias(f"__r_{c}") for c in cols])
        gexprs = []
        for c in cols:
            lc, rc = F.col(f"__l_{c}"), F.col(f"__r_{c}")
            gexprs.append(
                F.when(lc.isNull() | rc.isNull(),
                       F.lit(None).cast("int"))
                .when(lc == rc, F.lit(1)).otherwise(F.lit(0))
                .alias(f"__g_{c}"))
        pat_rows = (pcoll.df.join(left, on=self.i_col)
                    .join(right, on=self.j_col)
                    .select(*gexprs)
                    .groupBy(*[f"__g_{c}" for c in cols])
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .collect())
        # sorted-pattern order makes every EM sum deterministic
        pats = sorted(
            ((tuple(r[f"__g_{c}"] for c in cols), float(r["__n"]))
             for r in pat_rows),
            key=lambda t: tuple(-1 if g is None else g for g in t[0]))
        if not pats:
            raise ValueError("FellegiSunterEM: no candidate pairs")

        lo, hi = 2.0 ** -20, 1.0 - 2.0 ** -20
        m = {c: self.init_m for c in cols}
        u = {c: self.init_u for c in cols}
        p = self.init_p
        for _ in range(self.iterations):
            tot_w, tot_n = 0.0, 0.0
            num_m = {c: 0.0 for c in cols}
            den_m = {c: 0.0 for c in cols}
            num_u = {c: 0.0 for c in cols}
            den_u = {c: 0.0 for c in cols}
            for gamma, n in pats:
                pm, pu = p, 1.0 - p
                for c, g in zip(cols, gamma):
                    if g is None:
                        continue
                    pm = pm * (m[c] if g == 1 else 1.0 - m[c])
                    pu = pu * (u[c] if g == 1 else 1.0 - u[c])
                w = pm / (pm + pu)
                tot_w += n * w
                tot_n += n
                for c, g in zip(cols, gamma):
                    if g is None:
                        continue
                    den_m[c] += n * w
                    den_u[c] += n * (1.0 - w)
                    if g == 1:
                        num_m[c] += n * w
                        num_u[c] += n * (1.0 - w)
            p = tot_w / tot_n
            for c in cols:
                if den_m[c] > 0.0:
                    m[c] = min(max(num_m[c] / den_m[c], lo), hi)
                if den_u[c] > 0.0:
                    u[c] = min(max(num_u[c] / den_u[c], lo), hi)

        spark = pcoll.df.sparkSession
        rows = [(c, round(m[c], 6), round(u[c], 6), round(p, 6),
                 round(math.log2(m[c] / u[c]), 6),
                 round(math.log2((1.0 - m[c]) / (1.0 - u[c])), 6))
                for c in cols]
        out = spark.createDataFrame(
            rows, "field string, m double, u double, p double, "
                  "w_agree double, w_disagree double")
        return pcoll.with_df(out)


def _jaro_winkler(a: str, b: str) -> tuple:
    """Standard Jaro + Winkler boost (Winkler 1990; the common C
    parameterization DuckDB's jaro_winkler_similarity ships:
    boost only when jaro > 0.7, prefix capped at 4, scale 0.1).
    Returns (jaro, jaro_winkler) as raw doubles."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0, 0.0
    if a == b:
        return 1.0, 1.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    matched_b = [False] * lb
    ma = []
    for i in range(la):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not matched_b[j] and a[i] == b[j]:
                matched_b[j] = True
                ma.append(a[i])
                break
    m = len(ma)
    if m == 0:
        return 0.0, 0.0
    mb = [b[j] for j in range(lb) if matched_b[j]]
    t = sum(1 for x, y in zip(ma, mb) if x != y) / 2.0
    j = (m / la + m / lb + (m - t) / m) / 3.0
    if j > 0.7:
        p = 0
        for x, y in zip(a, b):
            if x != y or p == 4:
                break
            p += 1
        jw = j + p * 0.1 * (1.0 - j)
    else:
        jw = j
    return j, jw


def _jaro_winkler_batch(pa, pb):
    """Vectorized Jaro/Jaro-Winkler over parallel string lists.

    Buckets pairs by (len_a, len_b) — fixed shapes per bucket — and
    runs the greedy match sweep as numpy boolean ops across ALL pairs
    in the bucket at once (O(len_a * window) vector ops instead of
    O(pairs * len_a * window) scalar ones). Every float operation
    mirrors :func:`_jaro_winkler`'s order exactly, so the doubles are
    bit-equal to the scalar path (the component oracle vs DuckDB's
    native jaro_winkler_similarity proves it). Buckets smaller than 16
    pairs fall back to the scalar loop — numpy setup would dominate.
    Caller handles None/NaN rows."""
    import numpy as np

    n = len(pa)
    js = np.empty(n, np.float64)
    jws = np.empty(n, np.float64)
    buckets = {}
    for ix in range(n):
        buckets.setdefault((len(pa[ix]), len(pb[ix])), []).append(ix)
    for (la, lb), ixs in buckets.items():
        if la == 0 or lb == 0:
            for ix in ixs:
                js[ix] = 0.0
                jws[ix] = 0.0
            continue
        if len(ixs) < 16:
            for ix in ixs:
                j, jw = _jaro_winkler(pa[ix], pb[ix])
                js[ix] = j
                jws[ix] = jw
            continue
        cnt = len(ixs)
        # one concat+encode per bucket: 4-byte codepoint matrices
        mat_a = np.frombuffer(
            "".join(pa[ix] for ix in ixs).encode("utf-32-le"),
            np.uint32).reshape(cnt, la)
        mat_b = np.frombuffer(
            "".join(pb[ix] for ix in ixs).encode("utf-32-le"),
            np.uint32).reshape(cnt, lb)
        window = max(la, lb) // 2 - 1
        if window < 0:
            window = 0
        matched_a = np.zeros((cnt, la), bool)
        matched_b = np.zeros((cnt, lb), bool)
        for i in range(la):
            lo, hi = max(0, i - window), min(lb, i + window + 1)
            found = np.zeros(cnt, bool)
            for jj in range(lo, hi):
                cand = (~found & ~matched_b[:, jj]
                        & (mat_a[:, i] == mat_b[:, jj]))
                matched_b[:, jj] |= cand
                found |= cand
            matched_a[:, i] = found
        m = matched_a.sum(1)
        mf = m.astype(np.float64)
        # stable argsort on ~matched compacts matched chars to the
        # front IN ORDER — the ma/mb alignment of the scalar path
        ca = np.take_along_axis(
            mat_a, np.argsort(~matched_a, axis=1, kind="stable"), 1)
        cb = np.take_along_axis(
            mat_b, np.argsort(~matched_b, axis=1, kind="stable"), 1)
        k = min(la, lb)
        valid = np.arange(k)[None, :] < m[:, None]
        t = ((ca[:, :k] != cb[:, :k]) & valid).sum(1) / 2.0
        with np.errstate(divide="ignore", invalid="ignore"):
            j = (mf / la + mf / lb + (mf - t) / mf) / 3.0
        j = np.where(m == 0, 0.0, j)
        pl = min(4, la, lb)
        p = np.cumprod(mat_a[:, :pl] == mat_b[:, :pl], axis=1).sum(1)
        jw = np.where(j > 0.7, j + (p * 0.1) * (1.0 - j), j)
        js[ixs] = j
        jws[ixs] = jw
    return js, jws


class JaroWinklerScore(PTransform):
    """Jaro / Jaro-Winkler similarity for CANDIDATE PAIRS — the name-
    matching scorer record linkage traditionally pairs with
    Fellegi-Sunter (agreement = jw >= threshold feeds m/u scoring):
    short-field fuzzy similarity where edit distance over-penalizes
    transpositions and Jaccard shingles are too coarse.

    Input: a pair frame (``i_col``/``j_col``); ``records`` maps ids
    to the string column (``right`` for two-corpus linkage). Output:
    pairs + ``jaro`` + ``jaro_winkler`` (raw doubles — round
    downstream). NULL on either side scores NULL.

    Parameterization matches the common C implementation (and DuckDB's
    jaro_winkler_similarity, which oracles it): match window
    max(len)/2 - 1, half-transpositions, Winkler boost only when
    jaro > 0.7, prefix capped at 4, scale 0.1. Case-sensitive —
    NormalizeText upstream for case-insensitive matching.

    Scale: two id-keyed joins carrying one string column each, then an
    Arrow-batched mapInPandas scoring pass over POST-BLOCKING
    candidates (never the corpus cross). Scoring is numpy-vectorized
    per (len_a, len_b) bucket (:func:`_jaro_winkler_batch`) — the
    greedy match sweep runs as boolean ops across the whole bucket,
    bit-equal to the scalar reference path which remains the
    small-bucket fallback.
    """

    def __init__(self, records, text_col: str = "text",
                 id_col: str = "doc_id", right=None,
                 i_col: str = "i", j_col: str = "j", label=None):
        super().__init__(label)
        self.records = (records.df if isinstance(records, PCollection)
                        else records)
        self.right = (right.df if isinstance(right, PCollection)
                      else right)
        self.text_col, self.id_col = text_col, id_col
        self.i_col, self.j_col = i_col, j_col

    def expand(self, pcoll: PCollection) -> PCollection:
        idc, tc = self.id_col, self.text_col
        left = self.records.select(F.col(idc).alias(self.i_col),
                                   F.col(tc).alias("__sa"))
        rsrc = self.right if self.right is not None else self.records
        right = rsrc.select(F.col(idc).alias(self.j_col),
                            F.col(tc).alias("__sb"))
        df = (pcoll.df.join(left, on=self.i_col)
              .join(right, on=self.j_col))
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.name not in ("__sa", "__sb")) \
            + ", jaro double, jaro_winkler double"
        keep = [f.name for f in df.schema.fields
                if f.name not in ("__sa", "__sb")]

        def gen(batches):
            import pandas as pd

            for pdf in batches:
                sa, sb = list(pdf["__sa"]), list(pdf["__sb"])
                ok, pa, pb = [], [], []
                for ix, (a, b) in enumerate(zip(sa, sb)):
                    if not (a is None or b is None
                            or pd.isna(a) or pd.isna(b)):
                        ok.append(ix)
                        pa.append(str(a))
                        pb.append(str(b))
                bj, bjw = _jaro_winkler_batch(pa, pb)
                js = [None] * len(sa)
                jws = [None] * len(sa)
                for pos, ix in enumerate(ok):
                    js[ix] = bj[pos]
                    jws[ix] = bjw[pos]
                out = pdf[keep].copy()
                out["jaro"] = pd.array(js, dtype="float64")
                out["jaro_winkler"] = pd.array(jws, dtype="float64")
                yield out

        return pcoll.with_df(df.mapInPandas(gen, schema=schema))


class BlockingQuality(PTransform):
    """Blocking-stage evaluation metrics (Christen 2012): given the
    CANDIDATE pairs a blocking scheme produced and a TRUTH pair set
    (labeled matches, or a gold rule over a sample):

      reduction_ratio   = 1 - |candidates| / |all possible pairs|
      pair_completeness = |candidates ∩ truth| / |truth|   (recall)
      pair_quality      = |candidates ∩ truth| / |candidates|

    — the standard trade-off report for choosing between
    SortedNeighborhood / LSH banding / q-gram blocking before the
    expensive scoring stage. Pairs are normalized to unordered
    (least, greatest) before intersecting, so candidate and truth
    orientation conventions don't matter.

    ``total_records``: record count for the all-pairs denominator
    (self-dedup n*(n-1)/2); pass ``total_right`` for two-corpus
    linkage (denominator n*m). Output: ONE row — (candidates, truth,
    matched, reduction_ratio, pair_completeness, pair_quality),
    ratios rounded 6; NULL where a denominator is 0.

    Scale: one distinct + one join on the normalized pair key; the
    truth set is typically a labeled sample (small) — the join
    broadcasts under the threshold.
    """

    def __init__(self, truth, total_records: int,
                 total_right: int | None = None,
                 i_col: str = "i", j_col: str = "j", label=None):
        super().__init__(label)
        self.truth = (truth.df if isinstance(truth, PCollection)
                      else truth)
        self.total_records = int(total_records)
        self.total_right = (None if total_right is None
                            else int(total_right))
        if self.total_right is None:
            if self.total_records < 2:
                raise ValueError("total_records must be >= 2")
        else:
            if self.total_records < 1:
                raise ValueError("total_records must be >= 1")
            if self.total_right < 1:
                raise ValueError("total_right must be >= 1")
        self.i_col, self.j_col = i_col, j_col

    def expand(self, pcoll: PCollection) -> PCollection:
        ic, jc = self.i_col, self.j_col

        def norm(df):
            return (df.select(
                F.least(F.col(ic), F.col(jc)).alias("a"),
                F.greatest(F.col(ic), F.col(jc)).alias("b"))
                .where(F.col("a") != F.col("b"))
                .distinct())

        cand = norm(pcoll.df)
        truth = norm(self.truth)
        n = self.total_records
        total_pairs = (n * self.total_right
                       if self.total_right is not None
                       else n * (n - 1) // 2)
        stats = (cand.agg(F.count(F.lit(1)).alias("candidates"))
                 .crossJoin(truth.agg(F.count(F.lit(1)).alias("truth")))
                 .crossJoin(cand.join(truth, ["a", "b"])
                            .agg(F.count(F.lit(1)).alias("matched"))))
        out = stats.select(
            F.col("candidates").cast("long").alias("candidates"),
            F.col("truth").cast("long").alias("truth"),
            F.col("matched").cast("long").alias("matched"),
            F.round(1.0 - F.col("candidates") / F.lit(float(total_pairs)),
                    6).alias("reduction_ratio"),
            F.round(F.when(F.col("truth") > 0,
                           F.col("matched") / F.col("truth")), 6)
            .alias("pair_completeness"),
            F.round(F.when(F.col("candidates") > 0,
                           F.col("matched") / F.col("candidates")), 6)
            .alias("pair_quality"))
        return pcoll.with_df(out)


class CanonicalizeClusters(PTransform):
    """Entity-resolution canonicalization: turn a cluster assignment
    (ConnectedComponents / ExactDedup group output) into a canonical-
    record mapping — the step after dedup clustering that every
    curation pipeline needs ("which row do we KEEP, and what maps to
    it?").

    ``assignment``: (node, comp) frame — e.g. ConnectedComponents
    output. Records absent from it are singleton clusters of
    themselves. ``prefer`` picks the representative per cluster:

      * 'min_id' — smallest id (the CC label convention);
      * 'longest_text' — longest ``text_col``, ties to smallest id
        (keep the fullest record, the classic survivorship rule).

    Scale: one id-keyed left join against the assignment + ONE
    cluster-keyed min_by aggregation (partial agg; the struct
    ordering (-len, id) makes survivorship a single pass) + one
    broadcast-or-shuffle join of the cluster->representative table
    (clusters-sized) back onto the records.

    Output: input id column + (cluster, canonical_id, is_canonical,
    cluster_size).
    """

    def __init__(self, assignment, id_col: str = "doc_id",
                 node_col: str = "node", comp_col: str = "comp",
                 prefer: str = "min_id", text_col: str = "text",
                 label=None):
        super().__init__(label)
        self.assignment = (assignment.df
                           if isinstance(assignment, PCollection)
                           else assignment)
        self.id_col = id_col
        self.node_col, self.comp_col = node_col, comp_col
        if prefer not in ("min_id", "longest_text"):
            raise ValueError(
                f"prefer {prefer!r}: 'min_id' or 'longest_text'")
        self.prefer, self.text_col = prefer, text_col

    def expand(self, pcoll: PCollection) -> PCollection:
        idc = self.id_col
        asg = self.assignment.select(
            F.col(self.node_col).alias(idc),
            F.col(self.comp_col).alias("__comp"))
        base = pcoll.df.join(asg, on=idc, how="left").withColumn(
            "cluster", F.coalesce(F.col("__comp"),
                                  F.col(idc).cast("long")))
        if self.prefer == "longest_text":
            order = F.struct(
                (-F.coalesce(F.length(self.text_col), F.lit(-1)))
                .alias("nl"),
                F.col(idc).alias("id"))
        else:
            order = F.struct(F.col(idc).alias("id"))
        rep = (base.groupBy("cluster")
               .agg(F.min_by(F.col(idc), order).alias("canonical_id"),
                    F.count(F.lit(1)).alias("cluster_size")))
        out = (base.join(rep, on="cluster")
               .select(idc, "cluster", "canonical_id",
                       (F.col(idc) == F.col("canonical_id"))
                       .alias("is_canonical"), "cluster_size"))
        return pcoll.with_df(out)
